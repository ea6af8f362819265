package perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The workload inputs are pure functions of the seed: the same seed
  * gives byte-identical inputs, another seed gives different ones. */
class GenSpec extends AnyFunSuite with SparkFixture {
  private def sha(parts: Seq[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  /** Everything trace_api hands the program: the stored span rows, the
    * OTLP export requests in their wire bytes, and the request list. */
  private def apiBytes(seed: Long): String = {
    val in = TraceApiWorkload.inputs(seed, nTraces = 300, nReq = 500)
    sha(Seq(Store.rows(in.bulk).mkString("\n").getBytes("UTF-8")) ++
      in.otlp.map(_.bytes) ++
      Seq(in.requests.mkString("\n").getBytes("UTF-8")))
  }

  test("trace_api inputs repeat byte for byte per seed") {
    assert(apiBytes(7) == apiBytes(7))
    assert(apiBytes(7) != apiBytes(8))
  }

  test("trace_api inputs carry all three OTLP wire forms and unique span ids") {
    val in = TraceApiWorkload.inputs(7, nTraces = 2000, nReq = 100)
    assert(in.otlp.map(_.form).toSet == Set(OtlpReq.Current, OtlpReq.Legacy, OtlpReq.Proto))
    val ids = in.traces.flatMap(_.spans).map(s => Ids.hex(s.spanId))
    assert(ids.distinct.size == ids.size)
    assert(in.requests.map(_.cls).toSet == Set("lookup", "search", "series", "rollup"))
  }

  test("the protobuf writer round-trips through the library's decoder") {
    val in = TraceApiWorkload.inputs(3, nTraces = 50, nReq = 1)
    val spans = in.traces.flatMap(_.spans)
    val decoded = graft.spans.OtlpProto.decodeRequest(OtlpWire.protobuf(spans))
    assert(decoded.map(_.span_id).toSet == spans.map(s => Ids.stored(s.spanId)).toSet)
    val byId = spans.map(s => Ids.stored(s.spanId) -> s).toMap
    decoded.foreach { d =>
      val s = byId(d.span_id)
      assert(d.scope_name == s.service && d.name == s.name)
      assert(d.start_time_unix_nano == s.startNs && d.end_time_unix_nano == s.endNs)
      assert(d.events.nonEmpty == s.error)
    }
  }

  test("registry_batch permutation is byte-identical per seed and changes order") {
    val base = Files.createTempDirectory("perfbench-perm").toFile
    try {
      val src = new File(root, RegistryWorkload.DataDir).getPath
      def bytes(seed: Long, name: String): Seq[Array[Byte]] = {
        val dst = new File(base, name)
        RegistryWorkload.permute(spark, src, dst, seed)
        RegistryWorkload.Tables.map(t =>
          Files.readAllBytes(new File(dst, s"$t.parquet").toPath))
      }
      val a = bytes(5, "a")
      val b = bytes(5, "b")
      val c = bytes(6, "c")
      assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
      assert(a.zip(c).exists { case (x, y) => !java.util.Arrays.equals(x, y) })
      // same rows, other order
      val t = "events"
      val orig = spark.read.parquet(s"$src/$t.parquet")
      val perm = spark.read.parquet(new File(base, s"a/$t.parquet").getPath)
      assert(orig.exceptAll(perm).isEmpty && perm.exceptAll(orig).isEmpty)
      assert(orig.collect().toSeq != perm.collect().toSeq)
    } finally Store.rmrf(base)
  }
}
