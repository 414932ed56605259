package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One local session per suite, built with the benchmark's recipe. */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  private val local = java.nio.file.Files.createTempDirectory("graftbench-spark")
  lazy val spark: SparkSession = Session.build(local.toString)
  override def afterAll(): Unit = {
    spark.stop()
    graft.tools.FsUtil.rm(local.toString)
    super.afterAll()
  }
}
