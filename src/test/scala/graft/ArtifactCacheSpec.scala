package graft

import graft.util.ArtifactCache
import org.scalatest.funsuite.AnyFunSuite

/** The shared index-build cache's concurrency contract (the
  * PlanMemoSpec convention): one build per (kind, dir) under
  * concurrent callers, distinct keys never share a path, and the
  * append-contract listing helper sees exactly the parquet parts. */
class ArtifactCacheSpec extends AnyFunSuite {

  test("concurrent callers of one (kind, dir) share ONE build") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val paths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val threads = (1 to 8).map(_ => new Thread(() => {
      val p = ArtifactCache.cached("spec_shared", "/tmp/spec_dir_a") {
        path =>
          builds.incrementAndGet()
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(path))
      }
      paths.add(p)
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(builds.get() === 1, "build ran more than once")
    assert(paths.size === 1, "callers saw different paths")
  }

  test("distinct kinds and dirs get distinct paths") {
    def build(path: String): Unit =
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val a = ArtifactCache.cached("spec_k1", "/tmp/spec_dir_b")(build)
    val b = ArtifactCache.cached("spec_k2", "/tmp/spec_dir_b")(build)
    val c = ArtifactCache.cached("spec_k1", "/tmp/spec_dir_c")(build)
    assert(Set(a, b, c).size === 3)
  }

  test("a failed build surfaces its own exception and a later caller " +
    "retries instead of hitting a poisoned key") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger()
    def call(fail: Boolean): String =
      ArtifactCache.cached("spec_fail", "/tmp/spec_dir_d") { path =>
        attempts.incrementAndGet()
        if (fail) throw new RuntimeException("boom")
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(path))
      }
    val e = intercept[RuntimeException] { call(fail = true) }
    assert(e.getMessage === "boom") // the cause, not ExecutionException
    val p = call(fail = false) // retry succeeds on a fresh path
    assert(attempts.get() === 2)
    // and the success is now cached
    assert(call(fail = true) === p)
    assert(attempts.get() === 2)
  }

  test("parquetListing sees exactly the nested parquet part files") {
    val root = SparkSpec.tempDir("artifact_listing")
    val sub = java.nio.file.Paths.get(s"$root/bucket=3")
    java.nio.file.Files.createDirectories(sub)
    java.nio.file.Files.write(sub.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(sub.resolve("_SUCCESS"), Array[Byte]())
    val l = ArtifactCache.parquetListing(root)
    assert(l.size === 1)
    assert(l.head._1.endsWith("part-0.parquet") && l.head._2 === 3L)
  }
}
