package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchListener
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.corpus.{PageDoc, WebPages}
import graft.index.{BuildConfig, IndexBuilder, IndexPaths}

/** Benchmark harness. Runs one workload in this JVM at local[4] with one
  * closed-loop client and writes one result object (metrics plus detail)
  * to `--out`. run.py builds this program, launches it and prints the
  * result line.
  *
  *   perfbench.Main --workload build|serve|serve-prep --seed N --seconds S
  *                  --trace 0|1 --work DIR --out FILE [--prep DIR]
  *
  * `serve-prep` writes, under DIR, the index and the catalog tables that
  * `serve --prep DIR` reads.
  */
object Main {
  val Cores = 4
  /** Pages of every generated crawl. */
  val Pages = 2000

  final class Ctx(val spark: SparkSession, val tracer: Tracer,
                  val listener: Option[PerfbenchListener], val seed: Long,
                  val seconds: Double, val work: Path) {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    private val baseNs = System.nanoTime()
    private val baseMs = System.currentTimeMillis()
    def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

    def span[A](name: String)(f: => A): A = tracer.span(name)(f)
    def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def note(k: String, v: Any): Unit = detail(k) = v.toString

    /** Count one operation; a throw or a false check counts as failed. */
    def op[A](what: String)(f: => A)(check: A => Option[String]): Option[A] = {
      attempted += 1
      try {
        val a = f
        check(a) match {
          case None => Some(a)
          case Some(why) => failed += 1; System.err.println(s"[perfbench] FAILED $what: $why"); Some(a)
        }
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] FAILED $what: ${e.getMessage}")
          None
      }
    }

    /** Spans plus the Spark work attributed to each (traced runs only). */
    lazy val traced: (Seq[Span], Map[Int, JobStats]) = {
      val spans = tracer.spans
      val jobs = listener.map(_.jobs(spark.sparkContext)).getOrElse(Nil)
        .map { case (ms, tag, st) => (msToNs(ms), tag, st) }
      (spans, Trace.statsBySpan(spans, jobs))
    }
    def spansNamed(p: String => Boolean): Seq[Span] = traced._1.filter(s => p(s.name))
    def workUnder(p: String => Boolean): JobStats = Trace.statsUnder(traced._1, traced._2, p)
  }

  /** Progress line on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] t=${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs $msg")

  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Heap in use after a full collection, in MB. The pause lets Spark's
    * context cleaner drop the broadcasts and shuffles the first collection
    * released, so the second one frees them too.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.spark.GraftExtensions.register(s)
    s
  }

  def pagesDS(spark: SparkSession, n: Int, seed: Long): Dataset[PageDoc] = {
    import spark.implicits._
    WebPages.generate(spark, n, seed, 2 * Cores).map(p => PageDoc(p.url, 1, p.text, None))
  }

  /** UTF-8 bytes of the generated page texts, computed without a Spark job. */
  def textBytes(n: Int, seed: Long): Long =
    (0L until n).map(i => WebPages.pageFor(i, seed).text.getBytes("UTF-8").length.toLong).sum

  def buildCfg: BuildConfig = BuildConfig(shufflePartitions = BuildConfig.shufflePartitionsFor(Cores))

  /** Index tables are the directories an index build writes. */
  def indexBytes(root: Path): Map[String, Long] = {
    val s = Files.list(root)
    try s.iterator().asScala.filter(Files.isDirectory(_))
      .map(d => d.getFileName.toString -> dirBytes(d)).toMap
    finally s.close()
  }

  /** A built index is consistent: its global stats count every row of its
    * chunk table, and no crash marker is left in the manifest.
    */
  def indexConsistent(spark: SparkSession, paths: IndexPaths): Option[String] = {
    val st = IndexBuilder.loadStats(spark, paths)
    val rows = spark.read.parquet(paths.chunks).count()
    val manifest = Files.readString(Paths.get(paths.manifest))
    if (st.nDocs != rows) Some(s"nDocs ${st.nDocs} != chunk rows $rows")
    else if (manifest.contains("\"pending_")) Some(s"pending marker left: $manifest")
    else None
  }

  def idfFromTable(spark: SparkSession, paths: IndexPaths)(terms: Seq[String]): Map[String, Double] = {
    import spark.implicits._
    val found = spark.read.parquet(paths.termStats).filter(col("term").isin(terms: _*))
      .select("term", "idf").as[(String, Double)].collect().toMap
    terms.map(t => t -> found.getOrElse(t, 0.0)).toMap
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val trace = a.getOrElse("trace", "0") == "1"
    val spark = session(work)
    val listener = if (trace) {
      val l = new PerfbenchListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val tracer = new Tracer(trace, id =>
      spark.sparkContext.setLocalProperty(PerfbenchListener.SpanKey, id.toString))
    val c = new Ctx(spark, tracer, listener, a("seed").toLong, a("seconds").toDouble, work)
    c.note("nproc", Runtime.getRuntime.availableProcessors())
    c.note("heap_max_mb", Runtime.getRuntime.maxMemory() / 1048576)
    c.note("spark_version", spark.version)
    c.note("java_version", System.getProperty("java.version"))
    c.note("master", spark.sparkContext.master)
    c.note("seed", c.seed)
    log(s"session up, running $workload")
    workload match {
      case "build"   => Workloads.build(c)
      case "serve"   => Workloads.serve(c, Paths.get(a("prep")))
      case "serve-prep" => Workloads.servePrep(c, Paths.get(a("prep")))
      case other     => sys.error(s"unknown workload $other")
    }
    if (trace) {
      val (spans, own) = c.traced
      val out = Paths.get(a("out")).resolveSibling(s"spans-$workload-seed${c.seed}.json")
      Files.writeString(out, Trace.toJson(spans, own))
      c.note("spans_file", out.getFileName)
      c.note("spans", spans.length)
    }
    log("workload done")
    spark.stop()
    Files.writeString(Paths.get(a("out")), resultJson(c))
  }

  /** `s` as a JSON string literal. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  def resultJson(c: Ctx): String = {
    def num(x: Double) = if (x.isNaN || x.isInfinite) "null" else x.toString
    val ms = c.metrics.map { case (k, (v, u)) =>
      s"""${jsonString(k)}: {"value": ${num(v)}, "unit": ${jsonString(u)}}""" }.mkString(", ")
    val ds = c.detail.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString(", ")
    s"""{"correct": ${c.failed == 0}, "attempted": ${c.attempted}, "failed": ${c.failed}, """ +
      s""""metrics": {$ms}, "detail": {$ds}}"""
  }
}
