package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assert
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

  /** Runs `main` with `args` in a child JVM and returns its output once it
    * exited 0. The child may stop its own SparkContext or exit, which the
    * suite's shared session must not do; it gets the test classpath, the
    * module opens and `env`, and a small heap instead of the suite's
    * pre-touched one.
    */
  def runChild(main: String, args: Seq[String] = Nil,
               env: Map[String, String] = Map.empty): String = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val addOpens = jvmArgs.filter(_.startsWith("--add-opens=")) ++
      jvmArgs.sliding(2).collect { case List("--add-opens", v) => s"--add-opens=$v" }
    assert(addOpens.nonEmpty, s"no --add-opens among $jvmArgs")
    val log = Files.createTempFile("graft-child", ".log").toFile
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ addOpens ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val child = pb.start()
    val done = child.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) child.destroyForcibly()
    val out = new String(Files.readAllBytes(log.toPath), "UTF-8")
    log.delete()
    assert(done && child.exitValue() == 0, s"child failed:\n$out")
    out
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
