package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.{ChunkerConfig, PageDoc, WebPages}
import graft.index.{BuildConfig, EmbeddingTable, IndexPaths, ResumableBuild}
import graft.query.EmbeddingProvider
import graft.spark.{DocIndex, SessionMemo}

/** Engine state lives in one per-session registry (`SessionMemo`): a
  * session reuses its own doc index and ANN preselector, a new session
  * builds its own and answers the same, and a stopped session leaves the
  * registry.
  */
class SessionMemoSpec extends AnyFunSuite with SparkTestSession.TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val other = spark.newSession()

  /** An sf dir whose `documents` texts carry the catalog query's terms. */
  private lazy val dir: String = {
    import spark.implicits._
    val d = tempDir("graft-sessionmemo-docs")
    val words = Seq("spark", "hash", "join", "scan", "merge", "sort", "window", "shuffle")
    (1 to 60).map { i =>
      (i.toLong, (0 until 12).map(j => words((i * 7 + j * 3) % words.length)).mkString(" "),
        s"doc$i.pdf")
    }.toDF("doc_id", "text", "source").write.parquet(s"$d/documents.parquet")
    d
  }

  private object HashProvider extends EmbeddingProvider {
    def embed(text: String): Option[Array[Float]] = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8"))
      Some((0 until 8).map(j => (d(j).toInt / 128.0).toFloat).toArray)
    }
    def embedQuery(q: String): Option[Array[Float]] = embed(q)
  }

  private def rows(s: SparkSession, q: String): Seq[Row] =
    SparkEntry.queries(q)(s, dir).collect().toSeq

  test("DocIndex.backendFor and annFor keep one instance per session") {
    val (_, backend) = DocIndex.backendFor(spark, dir)
    assert(DocIndex.backendFor(spark, dir)._2 eq backend, "second call in the same session")
    assert(!(DocIndex.backendFor(other, dir)._2 eq backend), "call in a new session")

    import spark.implicits._
    val out = IndexPaths(tempDir("graft-sessionmemo"))
    ResumableBuild.run(spark,
      WebPages.generate(spark, 60, seed = 7, partitions = 4)
        .map(p => PageDoc(p.url, 1, p.text, None)),
      out, BuildConfig(nTermBuckets = 8, nDocShards = 2, shufflePartitions = 8),
      ChunkerConfig(qualityCheck = false), ResumableBuild.ResumeConfig(nInputBuckets = 4))
    val ann = EmbeddingTable.annFor(spark, out, HashProvider)
    assert(EmbeddingTable.annFor(spark, out, HashProvider) eq ann, "second call in the same session")
    assert(!(EmbeddingTable.annFor(other, out, HashProvider) eq ann), "call in a new session")
  }

  test("q_search_topk, q_search_confidence and q_wand_topk return equal rows in a newSession()") {
    for (q <- Seq("q_search_topk", "q_search_confidence", "q_wand_topk")) {
      val first = rows(spark, q)
      assert(first.nonEmpty, q)
      assert(rows(spark, q) == first, s"$q: second call in the same session")
      assert(rows(other, q) == first, s"$q: call in a new session")
    }
  }

  test("a stopped session leaves the registry (child JVM)") {
    val out = SparkTestSession.runChild("graft.SessionMemoChild")
    assert(out.contains("first session held: false") && out.contains("second session held: true"), out)
    assert(out.contains("first doc index dir exists: false"), out)
    assert(out.contains("second context's broadcast is fresh and readable: true"), out)
  }

  test("a JVM that exits without stopping its session deletes its doc index (child JVM)") {
    val out = SparkTestSession.runChild("graft.SessionMemoExitChild")
    val root = "doc index dir: (.+)".r.findFirstMatchIn(out).map(_.group(1).trim)
      .getOrElse(fail(s"no doc index dir reported:\n$out"))
    assert(Paths.get(root).getFileName.toString.startsWith("graft-docindex"), root)
    assert(!Files.exists(Paths.get(root)), s"$root is still there after the child exited")
  }

  test("the Hadoop configuration is broadcast once per session") {
    val b = SessionMemo.hadoopConf(spark)
    assert(SessionMemo.hadoopConf(spark).id == b.id, "second call in the same session")
    assert(SessionMemo.hadoopConf(other).id != b.id, "call in a new session")
  }

  /** The lines of the Scala files under `dir` (except `skip`) that
    * match `pattern`, as `path:line: text`.
    */
  private def sourceLines(dir: String, pattern: scala.util.matching.Regex,
                          skip: Set[String]): List[String] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !skip(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if pattern.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally walk.close()
  }

  test("src/main declares no memo map outside SessionMemo") {
    val offenders = sourceLines("src/main",
      "\\b(ConcurrentHashMap|AtomicReference|WeakHashMap)\\b".r, Set("SessionMemo.scala"))
    assert(offenders.isEmpty, s"engine state belongs in SessionMemo:\n${offenders.mkString("\n")}")
    // the search path reads the index files in its tasks and caches no
    // table; the ANN preselectors (Ann.scala) cache their embedding frames
    val caching = sourceLines("src/main/scala/graft/query",
      "\\.(persist|unpersist|cache)\\(".r, Set("Ann.scala"))
    assert(caching.isEmpty, s"the search path caches a table:\n${caching.mkString("\n")}")
  }
}

/** Child JVM of the exit test: builds a doc index, reports its directory
  * and exits without stopping its session.
  */
object SessionMemoExitChild {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val docs = Files.createTempDirectory("graft-sessionmemo-exit-docs")
    import spark.implicits._
    (1 to 20).map(i => (i.toLong, s"spark hash join scan $i", s"doc$i.pdf"))
      .toDF("doc_id", "text", "source").write.parquet(s"$docs/documents.parquet")
    val (paths, _) = DocIndex.backendFor(spark, docs.toString)
    org.apache.commons.io.FileUtils.deleteQuietly(docs.toFile)
    println(s"doc index dir: ${paths.root}")
    sys.exit(0)
  }
}

/** Child JVM of the lifetime test: builds a doc index in one session and
  * stops it, starts a second, touches the registry and reports which
  * session it still holds and whether the first doc index's directory is
  * still there.
  */
object SessionMemoChild {
  def main(args: Array[String]): Unit = {
    def session() = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val first = session()
    SessionMemo(first).put("probe", "first")
    val docs = Files.createTempDirectory("graft-sessionmemo-child-docs")
    import first.implicits._
    (1 to 20).map(i => (i.toLong, s"spark hash join scan $i", s"doc$i.pdf"))
      .toDF("doc_id", "text", "source").write.parquet(s"$docs/documents.parquet")
    val (paths, _) = DocIndex.backendFor(first, docs.toString)
    val conf = SessionMemo.hadoopConf(first)
    first.stop()
    val second = session()
    SessionMemo(second).put("probe", "second")
    val conf2 = SessionMemo.hadoopConf(second)
    val readable = second.sparkContext.parallelize(1 to 2, 2)
      .map(_ => conf2.value.value.get("fs.defaultFS") != null).collect().forall(identity)
    println(s"second context's broadcast is fresh and readable: ${!(conf2 eq conf) && readable}")
    println(s"first session held: ${SessionMemo.holds(first)}")
    println(s"second session held: ${SessionMemo.holds(second)}")
    println(s"first doc index dir exists: ${Files.exists(Paths.get(paths.root))}")
    second.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(docs.toFile)
  }
}
