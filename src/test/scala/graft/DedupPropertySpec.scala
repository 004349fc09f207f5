package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.{ChunkerConfig, PageDoc, WebPages}
import graft.index._

/** Property (VERDICT r4 #7): for RANDOM corpora with cross-bucket duplicate
  * groups and RANDOM bucket mutations (re-crawls, cross-url text copies,
  * removals), the change-proportional incremental update must produce a
  * chunk table IDENTICAL to a from-scratch pipeline over the mutated
  * corpus — including keep-first winner re-elections when a group's
  * previous winner changes or disappears. Seeded generators, both paths
  * executed per case.
  */
class DedupPropertySpec extends AnyFunSuite with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val chunker = ChunkerConfig(qualityCheck = false)
  private val build = BuildConfig(nTermBuckets = 4, nDocShards = 4, shufflePartitions = 8)
  private val resume = ResumableBuild.ResumeConfig(nInputBuckets = 4)

  private def tableSig(chunksPath: String): Set[(Long, String, String, Int, Int)] =
    spark.read.parquet(chunksPath)
      .select("chunkId", "text", "source", "page", "chunkIdx")
      .as[(Long, String, String, Int, Int)].collect().toSet

  test("random corpora + random mutations: incremental chunk table == from-scratch chunk table") {
    var cheapPathSeen = 0
    for (seed <- 1 to 5) {
      val rng = new scala.util.Random(seed * 7919L)
      // base corpus with injected cross-url duplicate groups
      val base0 = WebPages.generate(spark, 40, seed = seed, partitions = 4)
        .map(p => PageDoc(p.url, 1, p.text, None)).collect().toIndexedSeq
      val base = {
        val arr = base0.toArray
        for (_ <- 0 until 6) { // duplicate page i's text into page j
          val i = rng.nextInt(arr.length); val j = rng.nextInt(arr.length)
          if (i != j) arr(j) = arr(j).copy(text = arr(i).text)
        }
        arr.toIndexedSeq
      }

      // random mutation set: re-crawl with new text, copy (form/destroy a
      // dup group), or remove
      val nMut = 2 + rng.nextInt(3)
      val mutIdx = rng.shuffle(base.indices.toList).take(nMut)
      var byUrl: Map[String, PageDoc] = base.map(p => p.url -> p).toMap
      val changedUrls = scala.collection.mutable.ArrayBuffer.empty[String]
      for (i <- mutIdx) {
        val url = base(i).url
        changedUrls += url
        rng.nextInt(3) match {
          case 0 => byUrl = byUrl.updated(url, base(i).copy(
            text = base(i).text + s" recrawled content ${rng.nextInt(1000)}"))
          case 1 =>
            val src = base(rng.nextInt(base.length))
            byUrl = byUrl.updated(url, base(i).copy(text = src.text))
          case 2 => byUrl = byUrl - url
        }
      }
      val mutated = base.flatMap(p => byUrl.get(p.url))

      val out = IndexPaths(tempDir(s"graft-prop-$seed"))
      ResumableBuild.run(spark, spark.createDataset(base), out, build, chunker, resume)
      ResumableBuild.incrementalUpdate(spark, spark.createDataset(mutated),
        changedUrls.toSeq.toDF("url"), out, build, chunker, resume)
      if (TableIO.readManifest(out.manifest).get.get("dedup_mode")
          .contains("change-proportional")) cheapPathSeen += 1

      val out2 = IndexPaths(tempDir(s"graft-prop-direct-$seed"))
      ResumableBuild.run(spark, spark.createDataset(mutated), out2, build,
        chunker, resume)

      val a = tableSig(out.chunks)
      val b = tableSig(out2.chunks)
      assert(a == b, s"seed=$seed mutations=$mutIdx: incremental table " +
        s"diverges (only-incremental=${(a -- b).take(3)}, " +
        s"only-direct=${(b -- a).take(3)})")
    }
    assert(cheapPathSeen > 0,
      "property never exercised the change-proportional path — generator broken")
  }
}
