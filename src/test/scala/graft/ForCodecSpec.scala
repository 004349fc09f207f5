package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.Analyzer
import graft.corpus.{ChunkerConfig, PageDoc, WebPages}
import graft.index.{BuildConfig, IndexBuilder, IndexPaths, ResumableBuild, TableIO}
import graft.query.{SparkBackend, Wand}

/** FOR is the one posting-block layout. The config hash ends with its tag,
  * so a FOR index stays incrementally updatable; an index written with
  * VByte blocks (stats tagged "vbyte", or written before the tag existed)
  * is refused at open, and the next update rebuilds it in full.
  */
class ForCodecSpec extends AnyFunSuite with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val chunker = ChunkerConfig(qualityCheck = false)
  // 16 shards: a one-url re-crawl touches few enough of them that an
  // intact index takes the shard-grain incremental path
  private val build = BuildConfig(nTermBuckets = 8, nDocShards = 16, shufflePartitions = 8)
  private val resume = ResumableBuild.ResumeConfig(nInputBuckets = 8)
  private val sentinel = "recrawl sentinel content"
  private val queries = Seq("quantum physics experiment", sentinel, "the of and")

  private lazy val crawl = WebPages.generate(spark, 150, seed = 42, partitions = 4)
  private lazy val target: String = {
    import spark.implicits._
    crawl.select("url").as[String].orderBy("url").head()
  }

  /** The seeded crawl; `recrawl` appends the sentinel to one url's text. */
  private def pages(recrawl: Boolean): Dataset[PageDoc] = {
    import spark.implicits._
    val url = target
    val extra = if (recrawl) s" $sentinel" else ""
    crawl.map(p => PageDoc(p.url, 1, if (p.url == url) p.text + extra else p.text, None))
  }

  private def tempIndex(name: String): IndexPaths =
    IndexPaths(tempDir(name))

  private def runBuild(recrawl: Boolean): IndexPaths = {
    val out = tempIndex("graft-layout")
    ResumableBuild.run(spark, pages(recrawl), out, build, chunker, resume)
    out
  }
  private lazy val forIndex = runBuild(recrawl = false)
  private lazy val freshRecrawl = runBuild(recrawl = true)

  /** A copy of the FOR index with its global stats rewritten by `stats`. */
  private def copyWithStats(stats: DataFrame => DataFrame): IndexPaths = {
    val out = tempIndex("graft-layout-copy")
    FileUtils.copyDirectory(new java.io.File(forIndex.root), new java.io.File(out.root))
    stats(spark.read.parquet(forIndex.globalStats))
      .write.mode("overwrite").parquet(out.globalStats)
    out
  }

  /** Applies the re-crawl to `out`; returns the manifest it leaves. */
  private def recrawl(out: IndexPaths): Map[String, String] = {
    val next = pages(recrawl = true)
    ResumableBuild.incrementalUpdate(spark, next,
      next.filter(col("url") === target).select("url"),
      out, build, chunker, resume)
    TableIO.readManifest(out.manifest).getOrElse(Map.empty)
  }

  private def wandTop10(paths: IndexPaths): Seq[Seq[(Long, Double)]] = {
    val backend = new SparkBackend(spark, paths)
    queries.map(q => Wand.topK(spark, paths, backend.stats, q, 10, backend.idfFor))
  }

  test("configHash ends with the FOR layout tag") {
    val hash = BuildConfig().configHash
    assert(hash == Analyzer.md5Hex("1.4|0.75|0.25|32|0|128|0|0|for"))
    // the hash of the retired VByte default no longer matches
    assert(hash != Analyzer.md5Hex("1.4|0.75|0.25|32|0|128|0|0"))
  }

  test("configHash of the default and the ResumableBuild configs is pinned") {
    // an index written before the idf floor, block size and chunk-bucket
    // count became constants must keep matching, or its next update would
    // take a full rebuild
    assert(BuildConfig().configHash == "750ce904634a2b51d3ee4961d4f9aa7e")
    assert(BuildConfig(nUrlBuckets = 16).configHash == "e8f077e00c0aa0e23cada61dd0699bbc")
  }

  test("pre-r5 stats without a postingCodec column load as vbyte") {
    // stats written before the layout tag existed mean VByte blocks, which
    // this code no longer decodes: loading them asks for a full rebuild
    val old = tempIndex("graft-oldstats")
    spark.read.parquet(forIndex.globalStats).drop("postingCodec")
      .write.mode("overwrite").parquet(old.globalStats)
    val ex = intercept[IllegalStateException](IndexBuilder.loadStats(spark, old))
    assert(ex.getMessage.contains("VByte posting blocks") &&
      ex.getMessage.contains("full rebuild is required"), ex.getMessage)
  }

  test("a FOR index takes the incremental path on update") {
    val manifest = recrawl(copyWithStats(identity))
    assert(manifest.contains("incremental_shards"), manifest)
  }

  for ((label, stale) <- Seq[(String, DataFrame => DataFrame)](
      "tagged vbyte" -> (_.withColumn("postingCodec", lit("vbyte"))),
      "without the layout tag" -> (_.drop("postingCodec")))) {
    test(s"an index $label is refused at open and rebuilt in full on update") {
      val out = copyWithStats(stale)
      val ex = intercept[IllegalStateException](new SparkBackend(spark, out))
      assert(ex.getMessage.contains(out.root) &&
        ex.getMessage.contains("full rebuild is required"), ex.getMessage)
      val manifest = recrawl(out)
      assert(!manifest.contains("incremental_shards"), manifest)
      val want = wandTop10(freshRecrawl)
      assert(want(1).nonEmpty, "the re-crawled text is searchable")
      assert(wandTop10(out) == want)
    }
  }
}
