package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

trait LocalSpark extends BeforeAndAfterAll { self: Suite =>
  lazy val tmp: java.io.File = java.nio.file.Files.createTempDirectory("perfbench-test").toFile

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    super.afterAll()
  }
}
