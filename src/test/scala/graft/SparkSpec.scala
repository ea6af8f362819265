package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all specs — one local session per JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session(suiteName)
  val sf0001 = "/root/testdata/sf0.001"

  override protected def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally SparkSpec.lastTest = s"$suiteName / ${test.name}"
}

object SparkSpec {
  @volatile private var lastTest = "(none)"
  private var shared: SparkSession = _

  /** The JVM's one test session. A suite that stops the SparkContext
    * (a fatal task error, an explicit stop) would otherwise fail every
    * later suite with "SparkContext was shut down", so a stopped
    * session is rebuilt, naming the last test that ran before it. */
  def session(suite: String): SparkSession = synchronized {
    if (shared != null && shared.sparkContext.isStopped)
      System.err.println(s"SparkSpec: shared SparkContext was stopped " +
        s"(last test before: $lastTest); rebuilding it for $suite")
    if (shared == null || shared.sparkContext.isStopped)
      shared = GraftSession.local(appName = "graft-test")
    shared
  }

  /** A fresh directory under `java.io.tmpdir`, deleted at JVM exit
    * with the process's other per-process artifacts. Every test that
    * writes scratch files writes them under one of these. */
  def tempDir(prefix: String): String = graft.util.TempArtifacts.register(
    java.nio.file.Files.createTempDirectory(prefix).toString)
}
