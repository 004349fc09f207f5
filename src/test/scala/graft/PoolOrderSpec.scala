package graft

import org.apache.spark.sql.functions.{asc, desc}
import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.Analyzer
import graft.corpus.{ChunkMeta, ChunkRow}
import graft.index.{BuildConfig, IndexBuilder, IndexPaths}
import graft.query.{Bm25Stats, SparkBackend}
import graft.query.SparkBackend.{PoolOrder, TopK}

/** The pool order (score desc, then source, page, chunkIdx asc) is written
  * once, `SparkBackend.PoolOrder`, and the dense pool, RM3 feedback and the
  * bounded and head-term pools sort by it. It must order rows as Catalyst's
  * `orderBy(desc, asc, asc, asc)` did, and per-shard top-k followed by the
  * driver merge must equal one full sort, ties included.
  */
class PoolOrderSpec extends AnyFunSuite with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark

  /** Rows with many score ties (0.0 and -0.0, the zero scores of RM3's
    * fill, a NaN) and corpus-order ties broken at every level, including
    * sources that UTF-8 and UTF-16 order differently.
    */
  private val rows: Seq[(ChunkRow, Double)] = {
    val sources = Seq("https://a.example/1.pdf", "https://a.example/2.pdf", "b.pdf",
      "ü.pdf", "�.pdf", "😀.pdf")
    val scores = Seq(1.5, 0.0, -0.0, 0.0, 2.25, -1.0, 1.5, Double.NaN, 0.0)
    for (i <- 0 until 120) yield {
      val c = ChunkRow(i.toLong, i.toLong, sources((i * 7) % sources.length), (i / 3) % 4,
        (i * 5) % 11, s"text $i", ChunkMeta())
      (c, scores((i * 13) % scores.length))
    }
  }.distinctBy { case (c, _) => (c.source, c.page, c.chunkIdx) }

  private def ids(xs: Seq[(ChunkRow, Double)]): Seq[Long] = xs.map(_._1.chunkId)

  test("the pool order is Catalyst's orderBy(desc(score), asc(source), asc(page), asc(chunkIdx))") {
    import spark.implicits._
    val df = rows.map { case (c, s) => (c.chunkId, c.source, c.page, c.chunkIdx, s) }
      .toDF("chunkId", "source", "page", "chunkIdx", "score")
      .orderBy(desc("score"), asc("source"), asc("page"), asc("chunkIdx"))
    val sorted = ids(rows.sorted(PoolOrder))
    assert(df.select("chunkId").as[Long].collect().toSeq == sorted)
    for (k <- Seq(1, 7, 40)) // TakeOrderedAndProject
      assert(df.limit(k).select("chunkId").as[Long].collect().toSeq == sorted.take(k), s"k=$k")
  }

  test("per-shard top-k then the merge equals one full sort") {
    val full = rows.sorted(PoolOrder)
    val rnd = new scala.util.Random(7)
    for (nShards <- Seq(1, 3, 8); k <- Seq(0, 1, 5, 17, 40, rows.length + 3)) {
      val shards = rows.groupBy(_ => rnd.nextInt(nShards)).values.toSeq.map { sh =>
        val top = new TopK(k)
        sh.foreach(top.offer)
        top.rows
      }
      assert(shards.forall(_.length <= k))
      assert(ids(SparkBackend.merge(k, shards)) == ids(full.take(k)), s"$nShards shards, k=$k")
    }
  }

  test("RM3 feedback fills with zero-score chunks in corpus order, as Catalyst ranks them") {
    import spark.implicits._
    // chunk ids, shards and corpus order all disagree; two chunks match
    val chunks = (0 until 30).map { i =>
      val text = if (i % 13 == 4) s"zebra crossing number $i" else s"plain filler passage $i"
      ChunkRow(i * 7919L, i.toLong, s"https://site.example/${(i * 11) % 5}.pdf", i % 3, i,
        text, ChunkMeta())
    }
    val p = IndexPaths(tempDir("graft-poolorder"))
    IndexBuilder.build(spark, spark.createDataset(chunks), p,
      BuildConfig(nTermBuckets = 4, nDocShards = 3, shufflePartitions = 4))
    val be = new SparkBackend(spark, p)
    val toks = Analyzer.tokenize("zebra").toIndexedSeq
    val st = Bm25Stats(be.stats.nDocs, be.stats.avgdl, be.idfFor(toks), be.stats.k1, be.stats.b)
    val served = spark.read.parquet(p.chunks).as[ChunkRow].collect().toSeq
    val expected = served.map(c => (c.text, c.source, c.page, c.chunkIdx, st.scoreText(toks, c.text)))
      .toDF("text", "source", "page", "chunkIdx", "score")
      .orderBy(desc("score"), asc("source"), asc("page"), asc("chunkIdx"))
      .limit(10).select("text").as[String].collect().toSeq
    assert(expected.count(_.startsWith("zebra")) == 2 && expected.length == 10)
    assert(be.topDocsForRm3(toks, 10) == expected)
  }
}
