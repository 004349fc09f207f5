package graft

import org.apache.spark.{ExecutedPlans, JobCount}
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.{Analyzer, Scoring}
import graft.corpus.{ChunkRow, ChunkerConfig, ChunkerJob, PageDoc, WebPages}
import graft.index.{BuildConfig, IndexBuilder, IndexPaths}
import graft.query.{Bm25, Bm25Stats, PipelineConfig, SparkBackend}

/** The rank-safe bounded pool (WAND top-M superset + exact re-score) must
  * return the exact same pool — ids AND scores — as the reference-exact
  * dense bonus pass, and must actually engage (not just fall back) on a
  * corpus large enough that the safety bound is provable.
  */
class SparkBoundedPoolSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val (paths, backend) = {
    import spark.implicits._
    val pages = WebPages.generate(spark, 2000, 42, 8)
      .map(p => PageDoc(p.url, 1, p.text, None))
    val chunks = ChunkerJob.chunk(pages, ChunkerConfig())
    val p = IndexPaths(
      java.nio.file.Files.createTempDirectory("graft-bounded").toString)
    IndexBuilder.build(spark, chunks, p,
      BuildConfig(nTermBuckets = 8, nDocShards = 2, shufflePartitions = 8))
    (p, new SparkBackend(spark, p))
  }

  /** The captured plans that rank the chunk table at `chunks` with a
    * TakeOrderedAndProject: the dense passes (pool or RM3 feedback).
    */
  private def densePasses(plans: Seq[SparkPlan], chunks: String): Seq[String] =
    plans.map(_.toString).filter(p => p.contains("TakeOrderedAndProject") && p.contains(chunks))

  private val queries = Seq(
    "machine learning algorithms",
    "gradient descent optimization methods for neural networks training",
    "climate ocean temperature",
    "spark shuffle partition",
    "index build throughput")

  test("bounded pool == dense pool (ids, scores, order) and engages") {
    var engaged = 0
    for (q <- queries; poolSize <- Seq(20, 100)) {
      val dense = backend.topPool(q, q, poolSize,
        PipelineConfig(densePoolOnly = true))
      assert(backend.lastPoolPath == "dense")
      val auto = backend.topPool(q, q, poolSize, PipelineConfig())
      if (backend.lastPoolPath == "bounded") engaged += 1
      assert(auto.map(_._1.chunkId) == dense.map(_._1.chunkId),
        s"'$q' pool=$poolSize ids differ (path=${backend.lastPoolPath})")
      auto.zip(dense).foreach { case ((_, gs), (_, es)) =>
        assert(gs == es, s"'$q' pool=$poolSize score $gs != $es")
      }
    }
    assert(engaged > 0, "bounded path never engaged — safety bound broken or corpus too small")
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
    val (pool, plans) = ExecutedPlans(spark)(backend.topPool(q, q, 20, PipelineConfig()))
    assert(backend.lastPoolPath == "dense") // head term skipped bounded path
    val dense = densePasses(plans, paths.chunks)
    assert(dense.nonEmpty, s"no dense pass captured:\n${plans.mkString("\n")}")
    for (plan <- dense; join <- Seq("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin"))
      assert(!plan.contains(join), s"dense pass plans a $join:\n$plan")
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
    val q = s"$headTerm learning"
    val toks = Analyzer.tokenize(q).toIndexedSeq
    val cfg = PipelineConfig(densePoolOnly = true)
    val warmPool = backend.topPool(q, q, 20, cfg)
    val warmFb = backend.topDocsForRm3(toks, 10)
    for ((name, call, warm) <- Seq[(String, () => Any, Any)](
           ("dense pool", () => backend.topPool(q, q, 20, cfg), warmPool),
           ("RM3 feedback", () => backend.topDocsForRm3(toks, 10), warmFb))) {
      val ((again, jobs), plans) = ExecutedPlans(spark)(JobCount(spark.sparkContext)(call()))
      assert(again == warm, name)
      assert(jobs == 1, s"$name ran $jobs Spark jobs")
      val seen = plans.map(_.toString)
      assert(seen.nonEmpty, s"$name: no plan observed")
      // the cached chunk table's scan shows in the plan, the blocks never
      assert(seen.forall(_.contains(paths.chunks)), s"$name:\n${seen.mkString("\n")}")
      assert(!seen.exists(_.contains(paths.blocks)), s"$name reads blocks:\n${seen.mkString("\n")}")
      assert(!seen.exists(_.contains("Join")), s"$name plans a join:\n${seen.mkString("\n")}")
    }
  }

  test("headTermWand serves a head-term query from WAND only — no dense pass, bounded deviation") {
    val q = s"$headTerm learning"
    val dense = backend.topPool(q, q, 50, PipelineConfig())
    assert(backend.lastPoolPath == "dense") // default mode: reference-exact
    val (wand, plans) = ExecutedPlans(spark)(
      backend.topPool(q, q, 50, PipelineConfig(headTermWand = true)))
    assert(backend.lastPoolPath == "wand-headterm")
    assert(densePasses(plans, paths.chunks).isEmpty,
      "headTermWand mode executed the dense chunk-table pass")
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
    val (p, b) = graft.spark.DocIndex.backendFor(spark, dir)
    val q = "scan merge sort window" // SparkEntryExtra.HeadQuery
    val toks = graft.analysis.Analyzer.tokenize(q).toSeq
    assert(b.dfFor(toks).values.sum > b.stats.nDocs / 2,
      "setup: the catalog head-term query must be head on the driver corpus")
    val (pool, plans) = ExecutedPlans(spark)(
      b.topPool(q, q, 50, PipelineConfig(headTermWand = true)))
    assert(b.lastPoolPath == "wand-headterm",
      s"expected wand-headterm routing, got ${b.lastPoolPath}")
    assert(densePasses(plans, p.chunks).isEmpty,
      "headTermWand mode executed the dense chunk-table pass — blocks-only plan violated")
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
    val pathsB = IndexPaths(
      java.nio.file.Files.createTempDirectory("graft-cbucket").toString)
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
