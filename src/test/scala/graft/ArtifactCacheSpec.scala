package graft

import graft.util.ArtifactCache
import org.scalatest.funsuite.AnyFunSuite

/** The shared index-build cache's concurrency contract (the
  * PlanMemoSpec convention): one build per (kind, dir) under
  * concurrent callers, distinct keys never share a path, and the
  * append-contract listing helper sees exactly the parquet parts. */
class ArtifactCacheSpec extends AnyFunSuite {

  /** Deletes what a persistent test published to the SHARED catalog
    * (its kind is unique to the run, so no later process could ever
    * adopt it) and its source dir. */
  private def dropPublished(kind: String, src: String): Unit = {
    val catalog = new java.io.File(graft.util.TempArtifacts.fastBase,
      "graft_artifact_catalog")
    val published = Option(catalog.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(s"${kind}_"))
    (published :+ new java.io.File(src)).foreach(f =>
      new scala.reflect.io.Directory(f).deleteRecursively(): Unit)
  }

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

  test("persistent: a cold process adopts the warm process's artifact " +
    "from the disk catalog instead of rebuilding") {
    import java.nio.file.{Files, Paths}
    val src = SparkSpec.tempDir("ac_persist_src")
    Files.write(Paths.get(src, "t.parquet"), "data".getBytes("UTF-8"))
    // unique kind per run: the catalog deliberately SURVIVES processes,
    // so a reused kind would hit a previous test run's artifact
    val kind = s"spec_persist_${System.nanoTime()}"
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def call(): String = ArtifactCache.persistent(kind, "v1", src) { p =>
      builds.incrementAndGet()
      Files.createDirectories(Paths.get(p))
      Files.write(Paths.get(p, "payload.txt"), "x".getBytes("UTF-8")): Unit
    }
    try {
      val warm = call()
      assert(builds.get() === 1)
      assert(Files.exists(Paths.get(warm, "payload.txt")))
      assert(Files.exists(Paths.get(warm, "_COMPLETE")),
        "published artifact must carry its completeness marker")
      // simulate process death: drop the in-process memo for this kind —
      // the next lookup has only the disk catalog to go on
      ArtifactCache.resetInProcess(kind)
      val cold = call()
      assert(builds.get() === 1, "cold lookup rebuilt despite a catalog hit")
      assert(cold === warm)
    } finally dropPublished(kind, src)
  }

  test("persistent: a changed input publishes to a NEW path and never " +
    "touches the old artifact (the fixture-clobber guard)") {
    import java.nio.file.{Files, Paths}
    val src = SparkSpec.tempDir("ac_persist_src2")
    val input = Paths.get(src, "t.parquet")
    Files.write(input, "gen1".getBytes("UTF-8"))
    val kind = s"spec_persist2_${System.nanoTime()}"
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def call(): String = ArtifactCache.persistent(kind, "v1", src) { p =>
      val n = builds.incrementAndGet()
      Files.createDirectories(Paths.get(p))
      Files.write(Paths.get(p, "payload.txt"),
        s"build$n".getBytes("UTF-8")): Unit
    }
    try {
      val first = call()
      // the input grows a byte (and so a new fingerprint)...
      Files.write(input, "gen2x".getBytes("UTF-8"))
      ArtifactCache.resetInProcess(kind)
      val second = call()
      assert(builds.get() === 2)
      assert(second !== first, "changed input must not reuse the artifact")
      // ...and the first artifact is still byte-intact where it was
      assert(new String(Files.readAllBytes(
        Paths.get(first, "payload.txt")), "UTF-8") === "build1")
      // version bump likewise forces a fresh build at a fresh path
      ArtifactCache.resetInProcess(kind)
      val v2 = ArtifactCache.persistent(kind, "v2", src) { p =>
        builds.incrementAndGet()
        Files.createDirectories(Paths.get(p))
        Files.write(Paths.get(p, "payload.txt"), "v2".getBytes("UTF-8")): Unit
      }
      assert(builds.get() === 3)
      assert(v2 !== second)
    } finally dropPublished(kind, src)
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
