package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all Spark-backed suites. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` on a fresh temp directory and deletes the directory
    * afterwards, also when `body` throws. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      val paths = Files.walk(dir)
      try paths.iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists)
      finally paths.close()
    }
  }
}
