package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One small local session per suite; tests run from perfbench/. */
trait SparkFixture extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = Session.create(2)
  val root: File = new File(sys.props("user.dir")).getCanonicalFile.getParentFile

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
