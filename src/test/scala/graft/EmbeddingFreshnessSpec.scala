package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.{ChunkerConfig, PageDoc, WebPages}
import graft.index._
import graft.query.EmbeddingProvider

/** VERDICT r5 directive: the embedding table must have the same
  * change-proportional update story as the index — a re-crawled doc's
  * vector is replaced, untouched ubucket partitions stay byte-identical,
  * and the ANN serving path refreshes itself via the snapshot staleness
  * check (the reference invalidates its FAISS cache by manifest hash,
  * semantic_index.py:25-71).
  */
class EmbeddingFreshnessSpec extends AnyFunSuite with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic text-hash embedding — re-crawled text => new vector. */
  private object HashProvider extends EmbeddingProvider {
    def embed(text: String): Option[Array[Float]] = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8"))
      Some((0 until 8).map(j => (d(j).toInt / 128.0).toFloat).toArray)
    }
    def embedQuery(q: String): Option[Array[Float]] = embed(q)
  }

  private val chunker = ChunkerConfig(qualityCheck = false)
  private val build = BuildConfig(nTermBuckets = 8, nDocShards = 2, shufflePartitions = 8)
  private val resume = ResumableBuild.ResumeConfig(nInputBuckets = 8)
  private def pagesA = WebPages.generate(spark, 120, seed = 7, partitions = 4)
    .map(p => PageDoc(p.url, 1, p.text, None))

  private def filesBy(root: String, key: String): Map[Int, Set[(String, Long)]] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map { p =>
        val u = s"$key=(\\d+)".r.findFirstMatchIn(p.toString).get.group(1).toInt
        u -> ((p.toString, java.nio.file.Files.size(p)))
      }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    finally s.close()
  }
  private def filesByU(root: String) = filesBy(root, "ubucket")

  test("re-crawl replaces exactly the changed doc's vectors; untouched partitions byte-identical") {
    val out = IndexPaths(
      tempDir("graft-embfresh"))
    ResumableBuild.run(spark, pagesA, out, build, chunker, resume)
    EmbeddingTable.build(spark, out, HashProvider)
    assert(EmbeddingTable.isFresh(spark, out))
    val before = filesByU(EmbeddingTable.dir(out))
    assert(before.keySet.size > 2, "setup: expected several ubucket dirs")
    // coverage: one row per embeddable chunk, sig-matched
    val nChunks = spark.read.parquet(out.chunks).count()
    assert(spark.read.parquet(EmbeddingTable.dir(out)).count() == nChunks)

    // re-crawl one url with new text
    val targetUrl = pagesA.select("url").as[String].orderBy("url").head()
    val pagesB = pagesA.map(p =>
      if (p.url == targetUrl) p.copy(text = p.text + " embedding freshness sentinel")
      else p)
    ResumableBuild.incrementalUpdate(spark, pagesB,
      Seq(targetUrl).toDF("url"), out, build, chunker, resume)
    assert(!EmbeddingTable.isFresh(spark, out),
      "index snapshot moved — embedding table must read as stale")

    // the serving-path constructor refreshes change-proportionally
    val ann = EmbeddingTable.annFor(spark, out, HashProvider)
    assert(EmbeddingTable.isFresh(spark, out))
    val after = filesByU(EmbeddingTable.dir(out))
    val affectedU = IndexBuilder.termBucket(targetUrl, resume.nInputBuckets)
    for (u <- before.keySet - affectedU)
      assert(after.get(u).contains(before(u)),
        s"untouched embedding partition $u was rewritten")
    assert(after.getOrElse(affectedU, Set.empty) != before(affectedU),
      "the changed url's partition kept its old files")

    // the re-crawled doc's vector IS the new text's embedding
    val changedChunks = spark.read.parquet(out.chunks)
      .filter(col("source") === targetUrl)
      .select("chunkId", "text").as[(Long, String)].collect()
    assert(changedChunks.nonEmpty)
    val served = spark.read.parquet(EmbeddingTable.dir(out))
      .filter(col("chunkId").isin(changedChunks.map(_._1).toSeq: _*))
      .select("chunkId", "embedding").as[(Long, Seq[Float])].collect().toMap
    for ((id, text) <- changedChunks)
      assert(served(id) == HashProvider.embed(text).get.toSeq,
        s"chunk $id still serves the pre-recrawl vector")
    // table still covers the corpus exactly
    assert(spark.read.parquet(EmbeddingTable.dir(out)).count() ==
      spark.read.parquet(out.chunks).count())
    // ANN over the refreshed table returns candidates
    assert(ann.preselect("embedding freshness sentinel", 5).nonEmpty)

    // idempotence: a second annFor must not rewrite anything
    EmbeddingTable.annFor(spark, out, HashProvider)
    assert(filesByU(EmbeddingTable.dir(out)) == after,
      "fresh table was rewritten by a no-op refresh")
  }

  test("annFor kind=ivf: codebook fitted once and persisted; all-cells probe == brute; fit survives snapshot churn") {
    val out = IndexPaths(
      tempDir("graft-embivf"))
    ResumableBuild.run(spark, pagesA, out, build, chunker, resume)
    EmbeddingTable.build(spark, out, HashProvider)

    val ivf = EmbeddingTable.annFor(spark, out, HashProvider,
      kind = "ivf", ivfK = 4, nprobe = 4)
    val brute = EmbeddingTable.annFor(spark, out, HashProvider)
    val q = "inverted index compression"
    // probing every cell makes IVF an exact partition of brute's scan —
    // identical float chain and tie-break, so the lists must be EQUAL
    assert(ivf.preselect(q, 10) == brute.preselect(q, 10))

    val cbDir = java.nio.file.Paths.get(EmbeddingTable.codebookDir(out))
    assert(java.nio.file.Files.exists(cbDir), "codebook was not persisted")
    def cbFiles = {
      val s = java.nio.file.Files.walk(cbDir)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => (p.toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p))).toSet
      finally s.close()
    }
    val fitted = cbFiles
    // the inverted-lists table is persisted, partitioned BY CELL —
    // a probe read is a partition-pruned scan
    val listsDir = EmbeddingTable.cellsDir(out)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(listsDir)),
      "persisted inverted-lists table missing")
    val listsBefore = filesBy(listsDir, "cell")
    assert(spark.read.parquet(listsDir).count() ==
      spark.read.parquet(out.chunks).count())
    // remember where every chunk of the target url lived pre-update
    val targetUrl = pagesA.select("url").as[String].orderBy("url").head()
    def urlPairCells(): Map[(Long, Long), Int] = {
      val ids = spark.read.parquet(out.chunks)
        .filter(col("source") === targetUrl).select("chunkId").as[Long]
        .collect().toSet
      spark.read.parquet(listsDir)
        .filter(col("chunkId").isin(ids.toSeq: _*))
        .select(col("chunkId"), col("h"), col("cell").cast("int"))
        .as[(Long, Long, Int)].collect()
        .map { case (id, h, c) => (id, h) -> c }.toMap
    }
    val beforePairs = urlPairCells()

    // snapshot churn: the coarse quantizer is reused (assignments are
    // per-snapshot, the codebook is offline-cadence like FAISS retraining)
    val pagesB = pagesA.map(p =>
      if (p.url == targetUrl) p.copy(text = p.text + " ivf drift sentinel") else p)
    ResumableBuild.incrementalUpdate(spark, pagesB,
      Seq(targetUrl).toDF("url"), out, build, chunker, resume)
    val ivf2 = EmbeddingTable.annFor(spark, out, HashProvider,
      kind = "ivf", ivfK = 4, nprobe = 4)
    assert(cbFiles == fitted, "codebook was refit on a snapshot change")
    assert(EmbeddingTable.isFresh(spark, out))
    val brute2 = EmbeddingTable.annFor(spark, out, HashProvider)
    assert(ivf2.preselect(q, 10) == brute2.preselect(q, 10),
      "post-update IVF serving diverged from brute over the refreshed lists")
    // list maintenance was change-proportional at the CELL grain: dirty
    // cells = where the url's STALE (chunkId, h) pairs lived ∪ where its
    // ADDED pairs landed — unchanged chunks of the re-crawled url dirty
    // nothing; every other cell partition is byte-identical
    val afterPairs = urlPairCells()
    val listsAfter = filesBy(listsDir, "cell")
    val dirty = (beforePairs.keySet -- afterPairs.keySet).map(beforePairs) ++
      (afterPairs.keySet -- beforePairs.keySet).map(afterPairs)
    assert(dirty.nonEmpty)
    for (c <- listsBefore.keySet -- dirty)
      assert(listsAfter.get(c).contains(listsBefore(c)),
        s"cell partition $c holds no chunk of the changed url but was rewritten")
    for (c <- dirty)
      assert(listsAfter.getOrElse(c, Set.empty) != listsBefore.getOrElse(c, Set.empty),
        s"dirty cell partition $c kept its old files")
    // coverage survives the update
    assert(spark.read.parquet(listsDir).count() ==
      spark.read.parquet(out.chunks).count())

    // a forced refit invalidates every assignment: cells rebuilt wholesale,
    // serving equality preserved
    val ivf3 = EmbeddingTable.annFor(spark, out, HashProvider,
      kind = "ivf", ivfK = 4, nprobe = 4, refitIvf = true)
    assert(cbFiles != fitted, "refitIvf=true must rewrite the codebook")
    assert(ivf3.preselect(q, 10) == brute2.preselect(q, 10))

    // cell pruning actually engages at nprobe < k and still returns rows
    val pruned = EmbeddingTable.annFor(spark, out, HashProvider,
      kind = "ivf", ivfK = 4, nprobe = 1)
    assert(pruned.preselect(q, 5).nonEmpty)
    // and the probe read is a PARTITION filter on the lists scan — a
    // directory prune, not a full-scan-then-filter
    val probeScan = spark.read.parquet(listsDir).filter(col("cell").isin(0, 1))
    val planStr = probeScan.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(planStr).nonEmpty,
      s"cell filter did not reach the scan as a partition filter:\n$planStr")
  }

  test("removed urls evict their vectors on refresh") {
    val out = IndexPaths(
      tempDir("graft-embevict"))
    ResumableBuild.run(spark, pagesA, out, build, chunker, resume)
    EmbeddingTable.build(spark, out, HashProvider)
    val urls = pagesA.select("url").as[String].collect()
    val gone = urls.take(5).toSet
    val pagesB = pagesA.filter(p => !gone.contains(p.url))
    ResumableBuild.incrementalUpdate(spark, pagesB,
      gone.toSeq.toDF("url"), out, build, chunker, resume)
    EmbeddingTable.refresh(spark, out, HashProvider)
    val keptIds = spark.read.parquet(out.chunks).select("chunkId")
    val emb = spark.read.parquet(EmbeddingTable.dir(out))
    assert(emb.join(keptIds, Seq("chunkId"), "left_anti").count() == 0,
      "vectors of removed chunks still served")
    assert(emb.count() == keptIds.count())
  }
}
