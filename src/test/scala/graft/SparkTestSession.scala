package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Temporary directories of a suite (indexes, tables, copies): made
    * under `java.io.tmpdir` by `tempDir` and deleted after the suite's
    * last test.
    */
  trait TempDirs extends BeforeAndAfterAll { this: Suite =>
    private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

    protected def tempDir(prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(prefix).toFile
      made.add(d)
      d.getPath
    }

    override protected def afterAll(): Unit =
      try super.afterAll() finally made.forEach(d => FileUtils.deleteQuietly(d))
  }
}
