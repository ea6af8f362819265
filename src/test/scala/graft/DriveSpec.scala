package graft

import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel

/** [[Drive.run]]'s promises, checked on the shared session without
  * stopping its SparkContext: a fault comes back as a record, the
  * action materialises every computed column, the run leaves no cached
  * block or persistent RDD behind, and the record carries the run's
  * JVM CPU time. */
class DriveSpec extends SparkSpec {

  test("a build that throws comes back as a fault by entry id and the " +
      "next run still works") {
    val entries = Seq(
      GraftQuery("drive_spec_boom", "throws while building",
        (_, _) => throw new IllegalStateException("boom in build")),
      GraftQuery("drive_spec_ok", "three rows",
        (s, _) => s.range(3).toDF("id")))
    val got = entries.map(q => q.id -> Drive.run(spark, q.run(_, sf0001)))
      .toMap
    val boom = got("drive_spec_boom")
    assert(boom.fault.contains("boom in build"), boom)
    assert(boom.rows.isEmpty && !boom.stopped, boom)
    assert(boom.problem.contains("boom in build"), boom)
    val ok = got("drive_spec_ok")
    assert(ok.rows.contains(3L) && ok.problem.isEmpty, ok)
  }

  test("a computed column that throws fails under Drive.run although " +
      "count() on the same frame passes") {
    val explode = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("computed column threw")
      x
    }
    val df = spark.range(10).toDF("id").withColumn("bad", explode(col("id")))
    assert(df.count() === 10L)
    val r = Drive.run(spark, _ => df)
    assert(r.rows.isEmpty && r.fault.isDefined && !r.stopped, r)
  }

  test("after Drive.run no cached block or persistent RDD is left, " +
      "including one made by localCheckpoint inside the build") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val r = Drive.run(spark, { s =>
      val cached = s.range(100).toDF("id").cache()
      cached.count()
      val pinned = s.range(50).toDF("id").localCheckpoint()
      assert(cached.storageLevel != StorageLevel.NONE)
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
      cached.join(pinned, "id")
    })
    assert(r.rows.contains(50L) && r.problem.isEmpty, r)
    assert(classic.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs)
  }

  test("cpuNs counts a CPU-bound run, and a build that throws still " +
      "returns a record with cpuNs >= 0") {
    val r = Drive.run(spark, _.range(0, 20000000L)
      .selectExpr("sum(xxhash64(id) % 1048576) as s"))
    assert(r.rows.contains(1L) && r.problem.isEmpty, r)
    assert(r.cpuNs > 0, r)
    val boom = Drive.run(spark, _ => throw new IllegalStateException("boom"))
    assert(boom.fault.contains("boom") && boom.cpuNs >= 0, boom)
  }
}
