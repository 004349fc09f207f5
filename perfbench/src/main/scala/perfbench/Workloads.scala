package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{asc, col, desc, max}
import org.apache.spark.storage.StorageLevel
import graft.analysis.Analyzer
import graft.corpus.{ChunkRow, ChunkerConfig, ChunkerJob, WebPage, WebPages}
import graft.index.{IndexBuilder, IndexPaths, ResumableBuild}
import graft.query.{Pipeline, PipelineConfig, SearchBackend, SearchOutput, SparkBackend, Wand}
import graft.SparkEntry
import Main._

/** Delegates to the engine's backend and records a span around each call
  * the pipeline makes into it.
  */
final class TracedBackend(inner: SparkBackend, tr: Tracer) extends SearchBackend {
  def topPool(query: String, bm25Query: String, poolSize: Int, cfg: PipelineConfig) =
    tr.span("query.top_pool")(inner.topPool(query, bm25Query, poolSize, cfg))
  def bm25ScoresFor(queryTokens: Seq[String], chunks: Seq[ChunkRow]) =
    tr.span("query.bm25_rescore")(inner.bm25ScoresFor(queryTokens, chunks))
  def topDocsForRm3(queryTokens: Seq[String], fbDocs: Int) =
    tr.span("query.rm3")(inner.topDocsForRm3(queryTokens, fbDocs))
  def bonusedScoresFor(query: String, bm25Query: String, ids: Seq[Long], cfg: PipelineConfig) =
    inner.bonusedScoresFor(query, bm25Query, ids, cfg)
}

object Workloads {

  /** End-to-end metrics, reported by every workload (units fixed here). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "op2_p50_s" -> "s", "op3_s" -> "s", "work_per_s" -> "1/s",
    "index_bytes_per_text_byte" -> "ratio", "live_heap_mb" -> "MB")

  /** Per-layer metrics of the traced run. Every workload reports all of
    * them; a layer a workload leaves idle reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "corpus.chunk_s" -> "s", "corpus.chunks" -> "count", "corpus.text_bytes" -> "bytes",
    "analysis.map_s" -> "s",
    "index.build_s" -> "s", "index.jobs" -> "count", "index.stages" -> "count",
    "index.tasks" -> "count", "index.executor_cpu_s" -> "s", "index.gc_s" -> "s",
    "index.shuffle_write_bytes" -> "bytes", "index.shuffle_read_bytes" -> "bytes",
    "index.spill_bytes" -> "bytes", "index.output_bytes" -> "bytes",
    "index.blocks_bytes" -> "bytes", "index.chunks_bytes" -> "bytes",
    "index.term_stats_bytes" -> "bytes",
    "index.update_detect_s" -> "s", "index.update_s" -> "s",
    "index.update_incremental_share" -> "share", "index.update_shards_rebuilt" -> "count",
    "index.update_shards_total" -> "count", "index.update_output_bytes" -> "bytes",
    "index.update_shuffle_write_bytes" -> "bytes",
    "query.open_s" -> "s", "query.top_pool_s" -> "s", "query.top_pool_jobs" -> "count",
    "query.top_pool_input_bytes" -> "bytes", "query.bm25_rescore_s" -> "s",
    "query.bm25_rescore_calls_per_search" -> "count", "query.rm3_s" -> "s",
    "query.pipeline_self_s" -> "s", "query.wand_s" -> "s", "query.wand_jobs" -> "count",
    "query.wand_input_bytes" -> "bytes", "query.jobs_per_search" -> "count",
    "query.stages_per_search" -> "count", "query.shuffle_bytes_per_search" -> "bytes",
    "query.head_term_share" -> "share", "query.fuzzy_share" -> "share",
    "query.prf_share" -> "share", "query.idf_repeat_share" -> "share",
    "query.dense_pool_share" -> "share",
    "trace.op_p50_s" -> "s", "trace.op2_p50_s" -> "s", "trace.op3_s" -> "s",
    "trace.spans" -> "count") ++
    Catalog.Queries.map(q => s"catalog.${q}_s" -> "s") ++ Seq(
    "catalog.jobs" -> "count", "catalog.shuffle_write_bytes" -> "bytes",
    "catalog.spill_bytes" -> "bytes")

  private def emit(c: Ctx, e2e: Map[String, Double], layer: Map[String, Double]): Unit =
    if (c.tracer.enabled) {
      val all = layer ++ Map("trace.op_p50_s" -> e2e("op_p50_s"),
        "trace.op2_p50_s" -> e2e("op2_p50_s"), "trace.op3_s" -> e2e("op3_s"),
        "trace.spans" -> c.traced._1.length.toDouble)
      PerLayer.foreach { case (n, u) => c.metric(n, all.getOrElse(n, 0.0), u) }
    } else EndToEnd.foreach { case (n, u) => c.metric(n, e2e(n), u) }

  private def sizes(root: java.nio.file.Path, textBytes: Long, layer: mutable.Map[String, Double]): Double = {
    val b = indexBytes(root)
    layer("index.blocks_bytes") = b.getOrElse("blocks", 0L).toDouble
    layer("index.chunks_bytes") = b.getOrElse("chunks", 0L).toDouble
    layer("index.term_stats_bytes") = b.getOrElse("term_stats", 0L).toDouble
    b.values.sum.toDouble / textBytes
  }

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  private def seconds(ns: Long) = ns / 1e9

  /** The write path: a first crawl indexed from scratch (`detectChanged`
    * against an empty manifest, then `incrementalUpdate` with every url
    * new, which chunks all pages and runs `IndexBuilder.build`), then one
    * re-crawl update of that index; both again on a fresh index until the
    * run's time is up. The first build of a run is the JVM's first, as for
    * every CLI `build`, in traced runs too: the layer probes run after the
    * timed loop.
    */
  def build(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    // the re-crawl rule of the CLI `update`: every 1000th url (by stable
    // id) gets a newer warc_ts and appended text
    val changedUrls = (0L until Pages).map(i => WebPages.pageFor(i, c.seed).url)
      .filter(u => java.lang.Long.remainderUnsigned(IndexBuilder.stableId(u), 1000) == 0).toSet
    var crawl0: Dataset[WebPage] = null
    // set-up: the crawl, generated and held in memory
    val setup = (1 to 3).map { _ =>
      if (crawl0 != null) crawl0.unpersist(blocking = true)
      secs(c.span("corpus.generate") {
        crawl0 = WebPages.generate(spark, Pages, c.seed, 2 * Cores)
          .persist(StorageLevel.MEMORY_AND_DISK)
        crawl0.count()
      })._2
    }
    log(s"set-up done: ${setup.map(x => f"$x%.2f").mkString(", ")} s")
    val recrawl = crawl0.map { p =>
      if (changedUrls(p.url))
        p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L),
          text = p.text + " recrawled revision content")
      else p
    }
    val pages = crawl0.map(p => graft.corpus.PageDoc(p.url, 1, p.text, None))
    val textBytes = Main.textBytes(Pages, c.seed)
    val layer = mutable.Map[String, Double]("corpus.text_bytes" -> textBytes.toDouble)

    def manifestOf(cr: Dataset[WebPage]): DataFrame =
      cr.toDF().groupBy("url").agg(max("warc_ts").as("warc_ts")).localCheckpoint(true)
    val root = c.work.resolve("index")
    val paths = IndexPaths(root.toString)
    /** Detected (new, changed, removed) url counts and the detection time. */
    def update(cr: Dataset[WebPage], manifest: DataFrame): ((Long, Long, Long), Double) = {
      val (((newU, changedU, removedU), counts), detectS) = secs(c.span("index.detect") {
        val d = ResumableBuild.detectChanged(spark, cr.toDF(), manifest)
        (d, (d._1.count(), d._2.count(), d._3.count()))
      })
      c.span("index.apply") {
        ResumableBuild.incrementalUpdate(spark,
          cr.map(p => graft.corpus.PageDoc(p.url, 1, p.text, None)),
          changedU.union(newU).union(removedU), paths, buildCfg, ChunkerConfig(),
          ResumableBuild.ResumeConfig())
      }
      (counts, detectS)
    }
    val noManifest = Seq.empty[(String, java.sql.Timestamp)].toDF("url", "warc_ts")

    val buildS = mutable.ArrayBuffer.empty[Double]
    val updateS = mutable.ArrayBuffer.empty[Double]
    val detectS = mutable.ArrayBuffer.empty[Double]
    val incremental = mutable.ArrayBuffer.empty[Double]
    val shardsRebuilt = mutable.ArrayBuffer.empty[Double]
    var shardsTotal = 0.0
    var bytesRatio = 0.0
    var nChunks = 0L
    var heap = 0.0
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || seconds(System.nanoTime() - t0) < c.seconds) {
      r += 1
      rmTree(root)
      c.tracer.newRequest()
      c.op(s"build $r")(secs(c.span("index.build")(update(crawl0, noManifest)))) {
        case (((n, ch, rm), _), _) =>
          if (n != Pages || ch != 0 || rm != 0) Some(s"first crawl detected new=$n changed=$ch removed=$rm")
          else indexConsistent(spark, paths)
      }.foreach(x => buildS += x._2)
      if (r == 1) {
        bytesRatio = sizes(root, textBytes, layer)
        nChunks = IndexBuilder.loadStats(spark, paths).nDocs
      }
      heap = math.max(heap, liveHeapMb())
      log(s"build $r done")

      c.tracer.newRequest()
      val manifest = manifestOf(crawl0)
      c.op(s"update $r")(secs(c.span("index.update")(update(recrawl, manifest)))) {
        case (((n, ch, rm), _), _) =>
          indexConsistent(spark, paths).orElse {
            val st = IndexBuilder.loadStats(spark, paths)
            val top = Wand.topK(spark, paths, st, "recrawled", 10, idfFromTable(spark, paths))
            val srcs = spark.read.parquet(paths.chunks)
              .filter(col("chunkId").isin(top.map(_._1): _*)).select("source").as[String].collect()
            if (ch != changedUrls.size || n != 0 || rm != 0) Some(s"detected new=$n changed=$ch removed=$rm")
            else if (top.isEmpty) Some("WAND found no re-crawled chunk")
            else if (!srcs.forall(changedUrls))
              Some(s"WAND 'recrawled' hit unchanged urls: ${srcs.filterNot(changedUrls).mkString(",")}")
            else None
          }
      }.foreach { x =>
        updateS += x._2
        detectS += x._1._2
        val m = Files.readString(Paths.get(paths.manifest))
        val shards = """"incremental_shards"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(m).map(_.group(1))
        incremental += (if (shards.isDefined) 1.0 else 0.0)
        shardsRebuilt += shards.map(_.split(",").count(_.nonEmpty)).getOrElse(0).toDouble
        shardsTotal = """"n_doc_shards"\s*:\s*"(\d+)"""".r.findFirstMatchIn(m)
          .map(_.group(1).toDouble).getOrElse(0.0)
      }
      heap = math.max(heap, liveHeapMb())
    }
    if (c.tracer.enabled) {
      // layer probes, traced runs only, after the timed loop so that the
      // first timed build starts from the same JVM state as untraced:
      // chunking alone, and the analyzer calls alone, over the same pages
      val (n, s) = secs(c.span("corpus.chunk")(ChunkerJob.chunk(pages, ChunkerConfig()).count()))
      layer ++= Seq("corpus.chunk_s" -> s, "corpus.chunks" -> n.toDouble)
      layer("analysis.map_s") = secs(c.span("analysis.map") {
        pages.mapPartitions(_.map { p =>
          Analyzer.chunkText(Analyzer.cleanText(p.text), "", "sliding", 600, 80)
            .iterator.map(ch => Analyzer.tokenize(ch).length.toLong).sum
        }).reduce(_ + _)
      })._2
    }
    c.note("build_samples", buildS.map(x => f"$x%.3f").mkString(","))
    c.note("update_samples", updateS.map(x => f"$x%.3f").mkString(","))
    c.note("detect_samples", detectS.map(x => f"$x%.3f").mkString(","))
    c.note("pages", Pages); c.note("chunks", nChunks); c.note("text_bytes", textBytes)
    c.note("changed_urls", changedUrls.size)
    c.note("update_incremental_share", mean(incremental.toSeq))
    c.note("update_shards_rebuilt", s"${mean(shardsRebuilt.toSeq)} of $shardsTotal")

    val e2e = Map(
      "setup_s" -> Stats.median(setup),
      "op_p50_s" -> Stats.median(buildS.toSeq),
      "op2_p50_s" -> Stats.median(updateS.toSeq),
      "op3_s" -> Stats.median(detectS.toSeq),
      "work_per_s" -> nChunks / Stats.median(buildS.toSeq),
      "index_bytes_per_text_byte" -> bytesRatio,
      "live_heap_mb" -> heap)
    if (c.tracer.enabled) {
      val builds = c.spansNamed(_ == "index.build")
      val bw = c.workUnder(_ == "index.build")
      val nb = math.max(1, builds.length).toDouble
      layer ++= Seq("index.build_s" -> mean(builds.map(s => seconds(s.durNs))),
        "index.jobs" -> bw.jobs / nb, "index.stages" -> bw.stages / nb,
        "index.tasks" -> bw.tasks / nb, "index.executor_cpu_s" -> seconds(bw.cpuNs) / nb,
        "index.gc_s" -> bw.gcMs / 1e3 / nb,
        "index.shuffle_write_bytes" -> bw.shuffleWriteBytes / nb,
        "index.shuffle_read_bytes" -> bw.shuffleReadBytes / nb,
        "index.spill_bytes" -> bw.spillBytes / nb, "index.output_bytes" -> bw.outputBytes / nb)
      val ups = c.spansNamed(_ == "index.update")
      val uw = c.workUnder(_ == "index.update")
      val nu = math.max(1, ups.length).toDouble
      layer ++= Seq(
        "index.update_detect_s" -> mean(c.spansNamed(_ == "index.detect")
          .filter(s => ups.exists(_.id == s.parent)).map(s => seconds(s.durNs))),
        "index.update_s" -> mean(ups.map(s => seconds(s.durNs))),
        "index.update_incremental_share" -> mean(incremental.toSeq),
        "index.update_shards_rebuilt" -> mean(shardsRebuilt.toSeq),
        "index.update_shards_total" -> shardsTotal,
        "index.update_output_bytes" -> uw.outputBytes / nu,
        "index.update_shuffle_write_bytes" -> uw.shuffleWriteBytes / nu)
    }
    emit(c, e2e, layer.toMap)
  }

  /** WAND's top-k equals the top-k of the exact score table: same ids in
    * the same order, or, where two scores differ only by float summation
    * order, ids whose exact scores match position by position.
    */
  def wandMatches(wand: Seq[(Long, Double)], exactTop: Seq[(Long, Double)],
                  exactOf: Map[Long, Double]): Option[String] = {
    val near = (a: Double, b: Double) => math.abs(a - b) <= 1e-9
    if (wand.length != exactTop.length) Some(s"WAND returned ${wand.length}, exact ${exactTop.length}")
    else if (!wand.zip(exactTop).forall { case (w, e) => near(w._2, e._2) })
      Some(s"WAND scores ${wand.map(_._2)} != exact ${exactTop.map(_._2)}")
    else if (wand.map(_._1) == exactTop.map(_._1)) None
    else if (wand.map(_._1).distinct.length == wand.length &&
      wand.forall { case (id, s) => exactOf.get(id).exists(near(_, s)) }) None
    else Some(s"WAND ids ${wand.map(_._1)} != exact ${exactTop.map(_._1)}")
  }

  /** Seed of the served corpus and of the catalog tables. Both are the
    * same for every run (so they are made once per source version, see
    * `servePrep`); the queries and their order, the workload's input, come
    * from the run's seed.
    */
  val ServeDataSeed = 42L

  /** Writes what `serve` reads (run once, untimed): the index of the
    * served corpus in `prep/index`, the catalog tables in `prep/tables`,
    * and the DuckDB oracle SQL of the catalog queries in
    * `prep/oracle_sql.json`.
    */
  def servePrep(c: Ctx, prep: java.nio.file.Path): Unit = {
    IndexBuilder.build(c.spark, ChunkerJob.chunk(pagesDS(c.spark, Pages, ServeDataSeed),
      ChunkerConfig()), IndexPaths(prep.resolve("index").toString), buildCfg)
    Catalog.writeTables(c.spark, prep.resolve("tables"), ServeDataSeed)
    Files.writeString(prep.resolve("oracle_sql.json"), Catalog.Queries
      .map(q => s"${jsonString(q)}: ${jsonString(SparkEntry.oracleSql(q))}").mkString("{", ", ", "}"))
  }

  /** The read path: a closed loop of generated queries, each served once
    * through `Pipeline.searchTopK` and once through `Wand.topK`, over the
    * index `servePrep` built; then the catalog queries, in the seed's
    * order, over its tables.
    */
  def serve(c: Ctx, prep: java.nio.file.Path): Unit = {
    val spark = c.spark
    import spark.implicits._
    val index = prep.resolve("index")
    val textBytes = Main.textBytes(Pages, ServeDataSeed)
    val paths = IndexPaths(index.toString)
    val layer = mutable.Map[String, Double]()
    val bytesRatio = sizes(index, textBytes, layer)

    // set-up: open the index and serve a first (light) query, which fills
    // the backend's chunk cache
    var backend: SparkBackend = null
    val setup = (1 to 3).map { _ =>
      spark.catalog.clearCache()
      secs(c.span("query.open") {
        backend = new SparkBackend(spark, paths)
        Pipeline.searchTopK(backend, "checkpoint lineage", PipelineConfig())
      })._2
    }
    layer("query.open_s") = Stats.median(setup)
    log(s"set-up done: ${setup.map(x => f"$x%.2f").mkString(", ")} s")
    // warm-up, untimed: a block's light queries through both calls, and
    // the topic words' statistics in the backend's cache, as in a backend
    // that has served for a while. The median search is a light one; the
    // heavy queries' first run is left in the loop.
    QueryGen.generate(~c.seed, 1).filterNot(_.prf).foreach { q =>
      Pipeline.searchTopK(backend, q.text, PipelineConfig(prfEnabled = q.prf))
      Wand.topK(spark, paths, backend.stats, q.text, 10, backend.idfFor)
    }
    backend.idfFor(QueryGen.TopicWords)
    var heap = 0.0
    log("set-up and warm-up done")

    val qs = QueryGen.generate(c.seed, 10000)
    val traced = new TracedBackend(backend, c.tracer)
    val searchS = mutable.ArrayBuffer.empty[Double]
    val wandS = mutable.ArrayBuffer.empty[Double]
    val poolPaths = mutable.ArrayBuffer.empty[String]
    val searchOut = mutable.Map.empty[Int, SearchOutput]
    val wandOut = mutable.Map.empty[Int, Seq[(Long, Double)]]
    // the first searches that took the bounded pool path are checked
    val CheckSearches = 2
    val CheckWands = 2
    val t0 = System.nanoTime()
    var i = 0
    while (i % QueryGen.Block != 0 || seconds(System.nanoTime() - t0) < c.seconds) {
      val q = qs(i)
      c.tracer.newRequest()
      c.op(s"search $i")(secs(c.span("query.search")(
        Pipeline.searchTopK(traced, q.text, PipelineConfig(prfEnabled = q.prf)))))(_ => None)
        .foreach { case (o, s) =>
          searchS += s
          poolPaths += backend.lastPoolPath
          log(f"search $i $s%.3f ${backend.lastPoolPath} '${q.text}'")
          if (searchOut.size < CheckSearches && backend.lastPoolPath == "bounded") searchOut(i) = o
        }
      c.op(s"wand $i")(secs(c.span("query.wand")(
        Wand.topK(spark, paths, backend.stats, q.text, 10, backend.idfFor))))(_ => None)
        .foreach { case (w, s) => wandS += s; if (i < CheckWands) wandOut(i) = w }
      i += 1
    }
    val loopS = seconds(System.nanoTime() - t0)
    log(s"served $i queries")
    heap = math.max(heap, liveHeapMb())

    // the catalog queries, as graft.Bench times them: each one warmed,
    // then timed. The warm-up writes the result to `catalog_out/<query>`,
    // where run.py checks it against the query's DuckDB oracle.
    val tables = prep.resolve("tables").toString
    val catalogS = mutable.LinkedHashMap.empty[String, Double]
    new scala.util.Random(c.seed).shuffle(Catalog.Queries).foreach { q =>
      val fn = SparkEntry.queries(q)
      c.tracer.newRequest()
      c.op(s"catalog $q") {
        c.span("catalog.warm")(fn(spark, tables).coalesce(1).write
          .parquet(c.work.resolve("catalog_out").resolve(q).toString))
        secs(c.span(s"catalog.$q")(fn(spark, tables).count()))._2
      }(_ => None).foreach(catalogS(q) = _)
    }
    log("catalog queries done")
    heap = math.max(heap, liveHeapMb())

    // correctness of a seeded sample: the bounded pool is rank-safe (same
    // results as the dense reference pass), and WAND is exact
    searchOut.foreach { case (j, o) =>
      val q = qs(j)
      val dense = Pipeline.searchTopK(backend, q.text,
        PipelineConfig(prfEnabled = q.prf, densePoolOnly = true))
      if (dense.results != o.results || dense.selected != o.selected) {
        c.failed += 1
        System.err.println(s"[perfbench] FAILED search '${q.text}': bounded != dense pool results")
      }
    }
    wandOut.foreach { case (j, w) =>
      val df = backend.scoresDF(Analyzer.tokenize(qs(j).text).toIndexedSeq)
      val top = df.orderBy(desc("score"), asc("chunkId")).limit(10).as[(Long, Double)].collect().toSeq
      val exactOf = df.filter(col("chunkId").isin(w.map(_._1): _*)).as[(Long, Double)].collect().toMap
      wandMatches(w, top, exactOf).foreach { why =>
        c.failed += 1
        System.err.println(s"[perfbench] FAILED wand '${qs(j).text}': $why")
      }
    }

    // input-property shares of the queries served, measured from outside
    val served = qs.take(i)
    val seen = mutable.Set.empty[String]
    var terms, repeats = 0
    val head = served.count { q =>
      val t = Analyzer.tokenize(q.text).distinct
      terms += t.length
      repeats += t.count(seen)
      seen ++= t
      t.nonEmpty && backend.dfFor(t).values.sum > backend.stats.nDocs / 2
    }
    val n = math.max(1, i).toDouble
    layer ++= Seq("query.head_term_share" -> head / n,
      "query.fuzzy_share" -> served.count(_.text.length >= QueryGen.LongChars) / n,
      "query.prf_share" -> served.count(_.prf) / n,
      "query.dense_pool_share" -> poolPaths.count(_ == "dense") / n,
      "query.idf_repeat_share" -> (if (terms == 0) 0.0 else repeats.toDouble / terms))
    Seq("head_term", "fuzzy", "prf", "idf_repeat", "dense_pool").foreach(k =>
      c.note(s"${k}_share", f"${layer(s"query.${k}_share")}%.3f"))
    c.note("pages", Pages); c.note("chunks", backend.stats.nDocs); c.note("text_bytes", textBytes)
    c.note("queries", i)
    c.note("catalog_samples", catalogS.map { case (q, x) => f"$q=$x%.3f" }.mkString(","))
    Seq("search" -> searchS, "wand" -> wandS).foreach { case (k, xs) =>
      c.note(s"${k}_samples", xs.map(x => f"$x%.3f").mkString(","))
      c.note(s"${k}_tail", Stats.tail(xs.toSeq).map { case (p, v) => f"p${p * 100}%.0f=$v%.4f" }
        .getOrElse(s"n=${xs.length}: fewer than 20 samples, no tail"))
    }

    val e2e = Map(
      "setup_s" -> Stats.median(setup),
      "op_p50_s" -> Stats.median(searchS.toSeq),
      "op2_p50_s" -> Stats.median(wandS.toSeq),
      "op3_s" -> catalogS.values.sum,
      "work_per_s" -> i / loopS,
      "index_bytes_per_text_byte" -> bytesRatio,
      "live_heap_mb" -> heap)
    if (c.tracer.enabled) {
      val searches = c.spansNamed(_ == "query.search")
      val ns = math.max(1, searches.length).toDouble
      val self = Trace.selfNs(c.traced._1)
      def perSearch(name: String) = c.spansNamed(_ == name).map(s => seconds(s.durNs)).sum / ns
      val pool = c.workUnder(_ == "query.top_pool")
      val wands = c.spansNamed(_ == "query.wand")
      val ww = c.workUnder(_ == "query.wand")
      val nw = math.max(1, wands.length).toDouble
      val sw = c.workUnder(_ == "query.search")
      layer ++= Seq(
        "query.top_pool_s" -> perSearch("query.top_pool"),
        "query.top_pool_jobs" -> pool.jobs / ns,
        "query.top_pool_input_bytes" -> pool.inputBytes / ns,
        "query.bm25_rescore_s" -> perSearch("query.bm25_rescore"),
        "query.bm25_rescore_calls_per_search" -> c.spansNamed(_ == "query.bm25_rescore").length / ns,
        "query.rm3_s" -> perSearch("query.rm3"),
        "query.pipeline_self_s" -> mean(searches.map(s => seconds(self(s.id)))),
        "query.wand_s" -> mean(wands.map(s => seconds(s.durNs))),
        "query.wand_jobs" -> ww.jobs / nw, "query.wand_input_bytes" -> ww.inputBytes / nw,
        "query.jobs_per_search" -> sw.jobs / ns, "query.stages_per_search" -> sw.stages / ns,
        "query.shuffle_bytes_per_search" -> (sw.shuffleWriteBytes + sw.shuffleReadBytes) / ns)
      Catalog.Queries.foreach(q => layer(s"catalog.${q}_s") =
        mean(c.spansNamed(_ == s"catalog.$q").map(s => seconds(s.durNs))))
      val pw = c.workUnder(n => Catalog.PairGenerators(n.stripPrefix("catalog.")))
      layer ++= Seq("catalog.jobs" -> pw.jobs.toDouble,
        "catalog.shuffle_write_bytes" -> pw.shuffleWriteBytes.toDouble,
        "catalog.spill_bytes" -> pw.spillBytes.toDouble)
    }
    emit(c, e2e, layer.toMap)
  }
}
