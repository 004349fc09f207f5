package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.{ExecutedPlans, JobCount, JobTasks}
import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.{Analyzer, Scoring}
import graft.corpus.{ChunkRow, ChunkerConfig, ChunkerJob, PageDoc, WebPages}
import graft.index.{BlockFiles, BuildConfig, IndexBuilder, IndexPaths, ResumableBuild, TableIO}
import graft.query.{Bm25, Bm25Stats, Pipeline, PipelineConfig, SparkBackend, Wand}

/** The rank-safe bounded pool (WAND top-M superset + exact re-score) must
  * return the exact same pool — ids AND scores — as the reference-exact
  * dense bonus pass, and must actually engage (not just fall back) on a
  * corpus large enough that the safety bound is provable.
  */
class SparkBoundedPoolSpec extends AnyFunSuite with SparkTestSession.TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val (paths, backend) = {
    import spark.implicits._
    val pages = WebPages.generate(spark, 2000, 42, 8)
      .map(p => PageDoc(p.url, 1, p.text, None))
    val chunks = ChunkerJob.chunk(pages, ChunkerConfig())
    val p = IndexPaths(tempDir("graft-bounded"))
    IndexBuilder.build(spark, chunks, p,
      BuildConfig(nTermBuckets = 8, nDocShards = 2, shufflePartitions = 8))
    (p, new SparkBackend(spark, p))
  }

  private val queries = Seq(
    "machine learning algorithms",
    "gradient descent optimization methods for neural networks training",
    "climate ocean temperature",
    "spark shuffle partition",
    "index build throughput")

  /** Asserts that `be`'s default pool equals its dense pool (ids, scores,
    * order) for every query and pool size; returns how many took the
    * bounded path.
    */
  private def boundedEqualsDense(be: SparkBackend, label: String): Int = {
    var engaged = 0
    for (q <- queries; poolSize <- Seq(20, 100)) {
      val dense = be.topPool(q, q, poolSize, PipelineConfig(densePoolOnly = true))
      assert(be.lastPoolPath == "dense")
      val auto = be.topPool(q, q, poolSize, PipelineConfig())
      if (be.lastPoolPath == "bounded") engaged += 1
      assert(auto.map(_._1.chunkId) == dense.map(_._1.chunkId),
        s"$label '$q' pool=$poolSize ids differ (path=${be.lastPoolPath})")
      auto.zip(dense).foreach { case ((_, gs), (_, es)) =>
        assert(gs == es, s"$label '$q' pool=$poolSize score $gs != $es")
      }
    }
    engaged
  }

  test("bounded pool == dense pool (ids, scores, order) and engages") {
    assert(boundedEqualsDense(backend, "cbucket index") > 0,
      "bounded path never engaged — safety bound broken or corpus too small")
  }

  /** A url-bucketed index after a shard-grain incremental update: its
    * chunk rows lie under several `ubucket` dirs, in files of the build and
    * of the update.
    */
  private lazy val updated: IndexPaths = {
    import spark.implicits._
    val pages = WebPages.generate(spark, 800, 42, 8)
      .map(p => PageDoc(p.url, 1, p.text, None)).collect().toSeq
    val p = IndexPaths(tempDir("graft-bounded-updated"))
    val cfg = BuildConfig(nTermBuckets = 8, nDocShards = 8, shufflePartitions = 8)
    val resume = ResumableBuild.ResumeConfig(nInputBuckets = 4)
    ResumableBuild.run(spark, spark.createDataset(pages), p, cfg, ChunkerConfig(), resume)
    val url = pages.head.url
    val recrawl = pages.map(pg =>
      if (pg.url == url) pg.copy(text = pg.text + " machine learning recrawl sentinel") else pg)
    ResumableBuild.incrementalUpdate(spark, spark.createDataset(recrawl),
      Seq(url).toDF("url"), p, cfg, ChunkerConfig(), resume)
    assert(TableIO.readManifest(p.manifest).exists(_.contains("incremental_shards")),
      "expected the shard-grain incremental path, not a full rebuild")
    p
  }

  test("bounded pool == dense pool on an updated url-bucketed index") {
    val be = new SparkBackend(spark, updated)
    assert(boundedEqualsDense(be, "url-bucketed index") > 0, "bounded path never engaged")
  }

  test("the chunk reader matches Catalyst across ubucket dirs and an update's files") {
    val expected = IndexFilesSpec.catalystRows(spark, updated)
    val ids = expected.values.flatten.map(_._1.chunkId).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    val writeId = "part-\\d+-([0-9a-f-]{36})".r
    val writes = scala.collection.mutable.Set.empty[String]
    for (s <- 0 until 8) {
      val (rows, opened) = IndexFilesSpec.readChunks(conf, updated.chunks, s, Some(ids))
      assert(rows.length == expected(s).size && rows.toSet == expected(s), s"cbucket $s")
      assert(opened.forall(_._1.contains(s"/cbucket=$s/")), s"cbucket $s: $opened")
      assert(opened.map(_._1.replaceAll(".*/(ubucket=\\d+)/.*", "$1")).distinct.size > 1,
        s"cbucket $s: rows under one ubucket dir: $opened")
      writes ++= opened.flatMap(o => writeId.findFirstMatchIn(o._1).map(_.group(1)))
    }
    assert(writes.size >= 2, s"expected files of the build and of the update: $writes")
  }

  test("each WAND shard task fetches and re-scores its candidates from its own chunk bucket") {
    val be = new SparkBackend(spark, updated)
    val q = queries.head
    val (round, tasks) = JobTasks(spark.sparkContext)(
      Wand.round(spark, updated, be.stats, q, 50, be.idfFor, fetch = Some(Set.empty)))
    assert(tasks == Seq(be.stats.nDocShards), s"tasks per job $tasks")
    val chunkFiles = round.opened.filter(_._2.contains("/chunks/"))
    assert(chunkFiles.nonEmpty)
    chunkFiles.foreach { case (s, f, _) =>
      assert(f.contains(s"/cbucket=$s/"), s"shard $s's task opened $f") }
    // every shard list's candidate comes back once, exactly re-scored
    val cands = round.merged.map(_._1)
    assert(round.rows.map(_.row.chunkId).sorted == cands.sorted)
    val exact = be.bm25ScoresFor(Analyzer.tokenize(q).toIndexedSeq, round.rows.map(_.row))
    round.rows.foreach(f => assert(f.base == exact(f.row.chunkId)))
    assert(round.merged.take(50) == Wand.topK(spark, updated, be.stats, q, 50, be.idfFor))
    // ids the driver already holds are left out
    val known = cands.take(10).toSet
    val again = Wand.round(spark, updated, be.stats, q, 50, be.idfFor, fetch = Some(known))
    assert(again.merged == round.merged)
    assert(again.rows.map(_.row.chunkId).toSet == cands.toSet -- known)
  }

  test("a bounded light search runs one Spark job, its terms cached or one of them not") {
    val be = new SparkBackend(spark, paths)
    val cfg = PipelineConfig()
    def search(q: String): Int = {
      val (_, jobs) = JobCount(spark.sparkContext)(Pipeline.searchTopK(be, q, cfg))
      assert(be.lastPoolPath == "bounded", s"'$q' took the ${be.lastPoolPath} path")
      jobs
    }
    val light = queries.find { q =>
      be.topPool(q, q, cfg.poolSize, cfg)
      be.lastPoolPath == "bounded"
    }.getOrElse(fail("no query takes the bounded path"))
    assert(search(light) == 1, s"'$light' with every term cached")
    // a rare term the backend has not looked up yet
    import spark.implicits._
    val rare = spark.read.parquet(paths.termStats)
      .filter("df between 3 and 30 and term rlike '^[a-z]{5,}$'")
      .select("term").as[String].collect().sorted
      .find(t => !light.contains(t)).getOrElse(fail("no rare term"))
    assert(search(s"$light $rare") == 1, s"'$light $rare' with '$rare' not cached")
  }

  /** The most frequent indexed term: a head term (df > nDocs/2 on a Zipf
    * corpus), so topPool routes it through the dense pass rather than the
    * bounded WAND path.
    */
  private lazy val headTerm: String = {
    import spark.implicits._
    val head = spark.read.parquet(paths.termStats)
      .orderBy(org.apache.spark.sql.functions.desc("df"))
      .select("term").as[String].head()
    assert(backend.dfFor(Seq(head))(head) > backend.stats.nDocs / 2,
      s"setup: '$head' must be a head term")
    head
  }

  test("head-term dense pass plans no join and equals the dense reference pool") {
    val q = s"$headTerm learning"
    val ((pool, jobs), plans) = ExecutedPlans(spark)(JobCount(spark.sparkContext)(
      backend.topPool(q, q, 20, PipelineConfig())))
    assert(backend.lastPoolPath == "dense") // head term skipped bounded path
    // one job of per-shard tasks, and no Catalyst plan (so no join)
    assert(jobs == 1, s"the dense pool ran $jobs Spark jobs")
    assert(plans.isEmpty, s"the dense pool planned SQL:\n${plans.mkString("\n")}")
    // reference semantics (main.py:133-174, as LocalBackend): a dense base
    // array over the corpus in its canonical order, bonuses recomputed from
    // each text, stable sort by bonused score; idf from the index
    import spark.implicits._
    val chunks = spark.read.parquet(paths.chunks).as[ChunkRow].collect()
      .sortBy(c => (c.source, c.page, c.chunkIdx)).toIndexedSeq
    val qTokens = Analyzer.tokenize(q).toIndexedSeq
    val st = Bm25Stats(backend.stats.nDocs, backend.stats.avgdl,
      backend.idfFor(qTokens), backend.stats.k1, backend.stats.b)
    val base = Bm25.scoresLocal(st, qTokens, chunks.map(c => Analyzer.tokenize(c.text)))
    val cfg = PipelineConfig()
    val expected = chunks.indices.map { i =>
      (chunks(i).chunkId, Scoring.applyBonuses(base(i), chunks(i).text, q, qTokens,
        chunks(i).meta.title, cfg.proxWindow, cfg.proxLambda, cfg.ngramLambda))
    }.sortBy(-_._2).take(20)
    assert(pool.map(p => (p._1.chunkId, p._2)) == expected)
  }

  test("dense pool and RM3 feedback each run one Spark job and read no posting block") {
    // a copy of the index without its posting blocks serves the same answers
    val copy = IndexPaths(tempDir("graft-bounded-noblocks"))
    FileUtils.copyDirectory(new java.io.File(paths.root), new java.io.File(copy.root))
    FileUtils.deleteDirectory(new java.io.File(copy.blocks))
    val noBlocks = new SparkBackend(spark, copy)
    val q = s"$headTerm learning"
    val toks = Analyzer.tokenize(q).toIndexedSeq
    val cfg = PipelineConfig(densePoolOnly = true)
    for ((name, call) <- Seq[(String, SparkBackend => Any)](
           ("dense pool", _.topPool(q, q, 20, cfg)),
           ("RM3 feedback", _.topDocsForRm3(toks, 10)))) {
      val expected = call(backend)
      val (got, tasks) = JobTasks(spark.sparkContext)(call(noBlocks))
      assert(got == expected, name)
      assert(tasks == Seq(noBlocks.stats.nDocShards), s"$name: tasks per job $tasks")
    }
    assert(noBlocks.lastPoolPath == "dense")
  }

  test("headTermWand serves a head-term query from WAND only — no dense pass, bounded deviation") {
    val q = s"$headTerm learning"
    val dense = backend.topPool(q, q, 50, PipelineConfig())
    assert(backend.lastPoolPath == "dense") // default mode: reference-exact
    val (wand, jobs) = JobCount(spark.sparkContext)(
      backend.topPool(q, q, 50, PipelineConfig(headTermWand = true)))
    assert(backend.lastPoolPath == "wand-headterm")
    assert(jobs == 1, s"headTermWand mode ran $jobs Spark jobs: a dense pass adds one")
    assert(wand.length == dense.length)
    // deviation bound: candidate selection ignored bonuses, so at every
    // rank the served score trails the reference-exact pool by at most the
    // additive bonus ceiling (re-scoring itself is exact)
    val bMax = 0.2 + 0.1 + backend.stats.maxStaticBonus +
      (if (q.length >= 20) 2.0 else 0.0)
    wand.zip(dense).zipWithIndex.foreach { case (((_, ws), (_, ds)), i) =>
      assert(ds - ws <= bMax + 1e-9,
        s"rank $i: wand score $ws trails dense $ds beyond the $bMax bound")
    }
    // a non-head-term query is untouched by the flag (same path, same pool)
    val normal = backend.topPool(queries.head, queries.head, 20,
      PipelineConfig(headTermWand = true))
    val normalDefault = backend.topPool(queries.head, queries.head, 20,
      PipelineConfig())
    assert(normal.map(p => (p._1.chunkId, p._2)) ==
      normalDefault.map(p => (p._1.chunkId, p._2)))
  }

  test("q_wand_headterm's corpus routes the full headTermWand pool through WAND (driver scale)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val (_, b) = graft.spark.DocIndex.backendFor(spark, dir)
    val q = "scan merge sort window" // SparkEntryExtra.HeadQuery
    val toks = graft.analysis.Analyzer.tokenize(q).toSeq
    assert(b.dfFor(toks).values.sum > b.stats.nDocs / 2,
      "setup: the catalog head-term query must be head on the driver corpus")
    val (pool, jobs) = JobCount(spark.sparkContext)(
      b.topPool(q, q, 50, PipelineConfig(headTermWand = true)))
    assert(b.lastPoolPath == "wand-headterm",
      s"expected wand-headterm routing, got ${b.lastPoolPath}")
    assert(jobs == 1, s"headTermWand mode ran $jobs Spark jobs: a dense pass adds one")
    assert(pool.nonEmpty)
    // and the catalog entry itself (exact WAND top-20, oracle-matched in
    // both dialects) serves rows on the same index
    val rows = SparkEntry.queries("q_wand_headterm")(spark, dir).collect()
    assert(rows.length == 20)
  }

  test("chunk-bucketed index (pruned candidate fetch) returns identical pools") {
    import spark.implicits._
    val pages = WebPages.generate(spark, 800, 42, 8)
      .map(p => PageDoc(p.url, 1, p.text, None))
    val chunks = ChunkerJob.chunk(pages, ChunkerConfig())
    val pathsB = IndexPaths(tempDir("graft-cbucket"))
    IndexBuilder.build(spark, chunks, pathsB,
      BuildConfig(nTermBuckets = 8, nDocShards = 16, shufflePartitions = 8))
    val bucketed = new SparkBackend(spark, pathsB)
    for (q <- queries.take(3)) {
      val a = bucketed.topPool(q, q, 50, PipelineConfig())
      val b = backend.topPool(q, q, 50, PipelineConfig())
      // different corpora sizes -> compare bucketed against ITS own dense
      val dense = bucketed.topPool(q, q, 50, PipelineConfig(densePoolOnly = true))
      assert(a.map(p => (p._1.chunkId, p._2)) == dense.map(p => (p._1.chunkId, p._2)),
        s"'$q' bucketed pool != dense pool")
      assert(b.nonEmpty) // main fixture still healthy
    }
  }
}
