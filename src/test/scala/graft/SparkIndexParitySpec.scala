package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.{JobCount, JobTasks}
import org.apache.spark.sql.functions.{asc, desc}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.analysis.Analyzer
import graft.corpus.{ChunkerConfig, PageDoc}
import graft.index.{BuildConfig, IndexBuilder, IndexPaths, ResumableBuild, TableIO}
import graft.query.{LocalBackend, Pipeline, PipelineConfig, SparkBackend, Wand}

/** End-to-end parity of the DISTRIBUTED engine (index build + Spark-backed
  * query pipeline + WAND) against the reference goldens and the in-memory
  * oracle path.
  */
class SparkIndexParitySpec extends AnyFunSuite with SparkTestSession.TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val corpus = Goldens.corpus
  private lazy val paths = {
    val dir = tempDir("graft-index")
    val p = IndexPaths(dir)
    import spark.implicits._
    val ds = spark.createDataset(Goldens.chunks)
    IndexBuilder.build(spark, ds, p,
      BuildConfig(k1 = corpus.get("k1").asDouble(), b = corpus.get("b").asDouble(),
        nTermBuckets = 8, nDocShards = 2, shufflePartitions = 8))
    p
  }
  private lazy val backend = new SparkBackend(spark, paths)
  private lazy val local = new LocalBackend(Goldens.chunks,
    corpus.get("k1").asDouble(), corpus.get("b").asDouble())
  private lazy val goldens = Goldens.load("pipeline.json").elements().asScala.toList

  test("distributed stats match reference (N, avgdl, idf incl. floor)") {
    val stats = backend.stats
    assert(stats.nDocs == corpus.get("n_docs").asLong())
    assert(math.abs(stats.avgdl - corpus.get("avgdl").asDouble()) < 1e-9)
    import spark.implicits._
    val idf = spark.read.parquet(paths.termStats)
      .select("term", "idf").as[(String, Double)].collect().toMap
    val goldenIdf = corpus.get("idf")
    assert(idf.size == goldenIdf.size())
    goldenIdf.fields().asScala.foreach { e =>
      assert(math.abs(idf(e.getKey) - e.getValue.asDouble()) < 1e-9, s"idf(${e.getKey})")
    }
  }

  test("distributed search pipeline rank- and score-identical to reference") {
    for (g <- goldens) {
      val q = g.get("query").asText()
      val cfg = PipelineConfig(prfEnabled = g.get("prf_enabled").asBoolean())
      val out = Pipeline.searchTopK(backend, q, cfg)
      val expectedPool = g.get("pool").elements().asScala.map(_.asLong()).toList
      assert(out.pool.toList == expectedPool, s"pool mismatch for '$q'")
      val expected = g.get("results").elements().asScala.toList
      assert(out.results.length == expected.length, s"result count for '$q'")
      out.results.zip(expected).zipWithIndex.foreach { case ((got, exp), i) =>
        assert(got.text == exp.get("text").asText(), s"'$q' result[$i].text")
        assert(got.citation == exp.get("citation").asText(), s"'$q' result[$i].citation")
        assert(got.score.contains(exp.get("score").asDouble()), s"'$q' result[$i].score")
      }
      assert(out.confidence.score == g.get("confidence").get("score").asDouble(), s"conf '$q'")
    }
  }

  private val wandQueries = Seq("machine learning algorithms", "quick brown fox",
    "climate ocean temperature", "nobel prize physics quantum theory experiment",
    "spark shuffle partition")

  private def bucketOf(term: String): Int =
    IndexBuilder.termBucket(term, backend.stats.nTermBuckets)

  /** Distinct query terms with a non-zero BM25 weight, in query order. */
  private def liveTerms(q: String): Seq[String] = {
    val terms = Analyzer.tokenize(q).distinct
    val idf = backend.idfFor(terms)
    terms.filter(idf(_) != 0.0)
  }

  /** A query whose live terms span at least two term buckets. */
  private lazy val multiBucketQuery: String =
    wandQueries.find(q => liveTerms(q).map(bucketOf).distinct.size >= 2)
      .getOrElse(fail("no test query spans two term buckets"))

  test("WAND top-k matches join+agg scoring path") {
    import spark.implicits._
    for (q <- wandQueries) {
      val toks = graft.analysis.Analyzer.tokenize(q).toIndexedSeq
      val wand = Wand.topK(spark, paths, backend.stats, q, 10, backend.idfFor)
      // the distributed exact scores: top-10 of scoresDF, same tie order
      val exactTop = backend.scoresDF(toks).orderBy(desc("score"), asc("chunkId"))
        .limit(10).as[(Long, Double)].collect().toSeq
      assert(wand.map(_._1) == exactTop.map(_._1), s"'$q': $wand vs scoresDF $exactTop")
      wand.zip(exactTop).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-9, s"'$q' score: $gs vs scoresDF $es")
      }
      // reference scoring path: dense local scores, top-10 by (score desc, id asc)
      val dense = local.denseScores(toks)
      val expected = dense.zipWithIndex
        .filter(_._1 != 0.0)
        .sortBy { case (s, i) => (-s, i.toLong) }
        .take(10).map { case (s, i) => (i.toLong, s) }.toSeq
      assert(wand.length == expected.length, s"'$q': ${wand.length} vs ${expected.length}")
      wand.zip(expected).foreach { case ((gd, gs), (ed, es)) =>
        assert(gd == ed, s"'$q' doc order: got $gd expected $ed")
        assert(math.abs(gs - es) < 1e-9, s"'$q' score: $gs vs $es")
      }
    }
  }

  test("opening a backend runs one Spark job") {
    // fixed schemas for the chunk and term-stats tables, and global_stats
    // read with its encoder's schema: the one job reads the stats row
    val ix = paths
    val (_, jobs) = JobCount(spark.sparkContext)(new SparkBackend(spark, ix))
    assert(jobs == 1, s"backend open ran $jobs Spark jobs")
  }

  test("WAND runs one Spark job and reads only the live buckets' directories") {
    val q = multiBucketQuery
    val liveBuckets = liveTerms(q).map(bucketOf).toSet
    val warm = Wand.topK(spark, paths, backend.stats, q, 10, backend.idfFor)
    // one task per doc shard: no listing, schema-inference or shuffle job
    val (round, jobs) = JobCount(spark.sparkContext) {
      Wand.round(spark, paths, backend.stats, q, 10, backend.idfFor, fetch = None)
    }
    assert(round.merged.take(10) == warm)
    assert(jobs == 1, s"'$q' ran $jobs Spark jobs")
    // the tasks open every data file of the live buckets' directories, and
    // no other file
    val blocksDir = new java.io.File(paths.blocks).getCanonicalFile
    val liveFiles = liveBuckets.flatMap { b =>
      FileUtils.listFiles(new java.io.File(blocksDir, s"bucket=$b"), Array("parquet"), true)
        .asScala.map(_.getCanonicalPath)
    }
    assert(liveFiles.nonEmpty)
    val openedFiles = round.opened.map { case (_, f, _) =>
      new java.io.File(new java.net.URI(f)).getCanonicalPath }
    assert(openedFiles.toSet == liveFiles, s"opened $openedFiles, live buckets $liveBuckets")
    assert(openedFiles.distinct.length == openedFiles.length)
  }

  test("WAND = scoresDF top-k, one job of nDocShards tasks, across shard layouts") {
    import spark.implicits._
    val k1 = corpus.get("k1").asDouble(); val b = corpus.get("b").asDouble()
    def check(p: IndexPaths, layout: String): Unit = {
      val be = new SparkBackend(spark, p)
      for (q <- wandQueries) {
        val toks = Analyzer.tokenize(q).toIndexedSeq
        be.idfFor(toks) // the term-stats lookup job runs outside the count
        val (wand, tasks) = JobTasks(spark.sparkContext) {
          Wand.topK(spark, p, be.stats, q, 10, be.idfFor)
        }
        assert(tasks == Seq(be.stats.nDocShards), s"$layout '$q': tasks per job $tasks")
        val exactTop = be.scoresDF(toks).orderBy(desc("score"), asc("chunkId"))
          .limit(10).as[(Long, Double)].collect().toSeq
        assert(wand.map(_._1) == exactTop.map(_._1), s"$layout '$q': $wand vs $exactTop")
        wand.zip(exactTop).foreach { case ((_, gs), (_, es)) =>
          assert(math.abs(gs - es) < 1e-9, s"$layout '$q' score: $gs vs $es")
        }
      }
    }
    for (n <- Seq(1, 3, 8)) {
      val p = IndexPaths(tempDir(s"graft-shards$n"))
      IndexBuilder.build(spark, spark.createDataset(Goldens.chunks), p,
        BuildConfig(k1 = k1, b = b, nTermBuckets = 8, nDocShards = n, shufflePartitions = 8))
      check(p, s"$n shards")
    }
    // an incremental update rewrites the affected shards' directories
    val pages = corpus.get("pages").elements().asScala.toList.map { pg =>
      PageDoc(pg.get("source").asText(), pg.get("page").asInt(), pg.get("text").asText(), None)
    }
    val p = IndexPaths(tempDir("graft-shardsincr"))
    val cfg = BuildConfig(k1 = k1, b = b, nTermBuckets = 8, nDocShards = 8, shufflePartitions = 8)
    val chunker = ChunkerConfig(qualityCheck = false)
    val resume = ResumableBuild.ResumeConfig(nInputBuckets = 4)
    ResumableBuild.run(spark, spark.createDataset(pages), p, cfg, chunker, resume)
    val url = pages.head.url
    val updated = pages.map(pg =>
      if (pg.url == url) pg.copy(text = pg.text + " incremental parity sentinel") else pg)
    ResumableBuild.incrementalUpdate(spark, spark.createDataset(updated),
      Seq(url).toDF("url"), p, cfg, chunker, resume)
    assert(TableIO.readManifest(p.manifest).exists(_.contains("incremental_shards")),
      "expected the shard-grain incremental path, not a full rebuild")
    check(p, "after an incremental update")
  }

  test("WAND skips a live term's missing bucket directory") {
    val q = multiBucketQuery
    val live = liveTerms(q)
    val gone = live.head
    val kept = live.filter(bucketOf(_) != bucketOf(gone))
    val copy = new java.io.File(tempDir("graft-nobucket"))
    FileUtils.copyDirectory(new java.io.File(paths.root), copy)
    val p = IndexPaths(copy.getPath)
    FileUtils.deleteDirectory(new java.io.File(s"${p.blocks}/bucket=${bucketOf(gone)}"))
    // the deleted bucket contributes no blocks: the query scores as if its
    // terms were absent from the index, as a scan of the whole table would
    val expected = Wand.topK(spark, paths, backend.stats, kept.mkString(" "), 10,
      backend.idfFor)
    assert(expected.nonEmpty)
    assert(Wand.topK(spark, p, backend.stats, q, 10, backend.idfFor) == expected)
    live.map(bucketOf).distinct.foreach { b =>
      FileUtils.deleteDirectory(new java.io.File(s"${p.blocks}/bucket=$b"))
    }
    assert(Wand.topK(spark, p, backend.stats, q, 10, backend.idfFor).isEmpty)
  }

  test("WAND is correct under all-negative idf (stopword-dense corpus)") {
    // every term appears in nearly every doc -> raw idf < 0 for all terms,
    // eps floor negative (faithful BM25Okapi behavior); WAND must clamp
    // term upper bounds at 0 or it prunes wrongly (regression: sf0.1)
    import spark.implicits._
    val texts = (0 until 300).map { i =>
      val rare = if (i % 7 == 0) " gamma" else ""
      s"alpha beta${" alpha" * (i % 4)}$rare common tokens everywhere"
    }
    val chunks = texts.zipWithIndex.map { case (t, i) =>
      graft.corpus.ChunkRow(i.toLong, i.toLong, s"s$i", 1, 0, t, graft.corpus.ChunkMeta())
    }
    val dir = tempDir("graft-negidf")
    val p = IndexPaths(dir)
    IndexBuilder.build(spark, spark.createDataset(chunks), p,
      BuildConfig(nTermBuckets = 4, nDocShards = 2, shufflePartitions = 4))
    val be = new graft.query.SparkBackend(spark, p)
    assert(be.idfFor(Seq("alpha"))("alpha") < 0, "setup must produce negative idf")
    val local = new LocalBackend(chunks.toIndexedSeq)
    for (q <- Seq("alpha beta", "alpha gamma", "alpha alpha beta")) {
      val toks = graft.analysis.Analyzer.tokenize(q).toIndexedSeq
      val wand = Wand.topK(spark, p, be.stats, q, 10, be.idfFor)
      val dense = local.denseScores(toks).zipWithIndex
        .filter(_._1 != 0.0).sortBy { case (s, i) => (-s, i.toLong) }
        .take(10).map { case (s, i) => (i.toLong, s) }.toSeq
      assert(wand.map(_._1) == dense.map(_._1), s"'$q': $wand vs $dense")
      wand.zip(dense).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-9)
      }
    }
  }

  test("RM3 feedback follows the dense array order under a negative idf floor") {
    // every term is in most chunks -> all raw idfs < 0 and the floor eps is
    // negative: the "alpha" chunks score below zero, so the reference's
    // dense top-fbDocs (prf.py:29) takes the two zero-score chunks first
    import spark.implicits._
    val chunks = (0 until 10).map { i =>
      val alpha = if (i < 8) "alpha " else ""
      graft.corpus.ChunkRow(i.toLong, i.toLong, s"s$i", 1, 0,
        s"${alpha}common tokens everywhere", graft.corpus.ChunkMeta())
    }
    val p = IndexPaths(tempDir("graft-rm3floor"))
    IndexBuilder.build(spark, spark.createDataset(chunks), p,
      BuildConfig(nTermBuckets = 4, nDocShards = 2, shufflePartitions = 4))
    val be = new SparkBackend(spark, p)
    assert(math.abs(be.idfFor(Seq("alpha"))("alpha") - -0.647) < 1e-3,
      "setup must floor idf(alpha) at a negative eps")
    val expected = new LocalBackend(chunks).topDocsForRm3(Seq("alpha"), 6)
    assert(expected.take(2).forall(!_.contains("alpha")))
    assert(be.topDocsForRm3(Seq("alpha"), 6) == expected)
  }

  test("postings compression: blocks smaller than raw postings") {
    import org.apache.spark.sql.functions._
    val blockBytes = spark.read.parquet(paths.blocks)
      .agg(sum(length(col("docs")) + length(col("tfs")) + length(col("dls"))))
      .head().getLong(0)
    val nPostings = spark.read.parquet(paths.blocks)
      .agg(sum(col("n"))).head().getLong(0)
    // raw postings are (8B id + 4B tf + 4B dl) = 16B
    assert(blockBytes < nPostings * 16, s"$blockBytes bytes for $nPostings postings")
  }

  test("distributed chunker + keep-first dedup reproduce the reference chunk set") {
    import spark.implicits._
    val pages = corpus.get("pages").elements().asScala.toList.map { p =>
      graft.corpus.PageDoc(p.get("source").asText(), p.get("page").asInt(),
        p.get("text").asText(), None)
    }
    val got = graft.corpus.ChunkerJob.chunk(
      spark.createDataset(pages),
      graft.corpus.ChunkerConfig(qualityCheck = false))
      .collect().map(c => (c.source, c.page, c.text)).sortBy(t => (t._1, t._2, t._3))
    val expected = Goldens.chunks.map(c => (c.source, c.page, c.text))
      .sortBy(t => (t._1, t._2, t._3))
    assert(got.length == expected.length)
    assert(got.toSeq == expected.toSeq)
  }

  test("doc-shard auto mode scales with corpus; WAND parity holds past 4 shards") {
    // auto (nDocShards = 0, the default) must grow shard count with the
    // corpus so WAND's per-shard task parallelism is never capped at a
    // constant: one shard never exceeds ~250k docs.
    val auto = BuildConfig() // default is auto
    assert(auto.nDocShards == 0)
    assert(auto.resolveDocShards(1000L) == 4)
    assert(auto.resolveDocShards(1000000L) == 5)
    assert(auto.resolveDocShards(10000000L) == 41)
    assert(auto.resolveDocShards(2000000000L) == 4096) // capped
    assert(BuildConfig(nDocShards = 7).resolveDocShards(1000L) == 7) // explicit wins

    // an index with >4 shards stays rank- and score-identical
    import spark.implicits._
    val texts = (0 until 120).map(i => s"omega theta phi-$i shard test corpus row number $i")
    val chunks = texts.zipWithIndex.map { case (t, i) =>
      graft.corpus.ChunkRow(i.toLong, i.toLong, s"s$i", 1, 0, t, graft.corpus.ChunkMeta())
    }
    val dir = tempDir("graft-shards7")
    val p = IndexPaths(dir)
    IndexBuilder.build(spark, spark.createDataset(chunks), p,
      BuildConfig(nTermBuckets = 4, nDocShards = 7, shufflePartitions = 8))
    val nShards = spark.read.parquet(p.blocks).select("shard").distinct().count()
    assert(nShards > 4, s"expected >4 distinct shards, got $nShards")
    val be = new graft.query.SparkBackend(spark, p)
    val lb = new LocalBackend(chunks.toIndexedSeq)
    for (q <- Seq("omega theta", "shard test corpus", "row number test")) {
      val toks = graft.analysis.Analyzer.tokenize(q).toIndexedSeq
      val wand = Wand.topK(spark, p, be.stats, q, 10, be.idfFor)
      val dense = lb.denseScores(toks).zipWithIndex
        .filter(_._1 != 0.0).sortBy { case (s, i) => (-s, i.toLong) }
        .take(10).map { case (s, i) => (i.toLong, s) }.toSeq
      assert(wand.map(_._1) == dense.map(_._1), s"'$q': $wand vs $dense")
      wand.zip(dense).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-9)
      }
    }
  }

  test("metrics and manifest are written") {
    val metrics = spark.read.parquet(paths.metrics)
    assert(metrics.count() > 0)
    val manifest = graft.index.TableIO.readManifest(paths.manifest)
    assert(manifest.exists(_.contains("snapshot_id")))
    assert(manifest.exists(_.get("n_docs").contains(Goldens.chunks.length.toString)))
  }
}
