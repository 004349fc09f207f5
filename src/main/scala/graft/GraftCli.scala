package graft

import org.apache.spark.sql.SparkSession
import graft.corpus.{ChunkerConfig, PageDoc, WebPages}
import graft.index.{BuildConfig, IndexBuilder, IndexPaths, ResumableBuild, TableIO}
import graft.query.{Pipeline, SparkBackend, Wand}

/** spark-submit entry for the engine itself:
  *
  *   graft.GraftCli build  <indexDir> [nPages] [seed]   — generate + index
  *   graft.GraftCli update <indexDir> [nPages] [seed] [everyNth]
  *                          — re-crawl simulation -> incremental update
  *   graft.GraftCli query  <indexDir> <query...>        — full fusion pipeline
  *   graft.GraftCli wand   <indexDir> <query...>        — block-max WAND top-k
  *   graft.GraftCli stats  <indexDir>                   — manifest + metrics
  *   graft.GraftCli subprocess <indexDir> [reqFile]     — one JSON request
  *   graft.GraftCli subprocess <indexDir> --batch <f> [--output <f>]
  *                                                      — batch query mode
  *   graft.GraftCli directbuild <indexDir> [nPages]     — warm-up + timed
  *                          IndexBuilder.build; graft.Bench's isolated-build
  *                          child parses its "directbuild N chunks in Xs" line
  */
object GraftCli {

  private val usage =
    "usage: build|update|query|wand|stats|subprocess|directbuild <indexDir> ..."

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS",
          if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark" else "/tmp"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.spark.GraftExtensions.register(s) // no-op if injected via conf
    s
  }

  def main(rawArgs: Array[String]): Unit = {
    // config precedence: defaults -> --config yaml -> GRAFT_* env -> --flag
    // overrides (reference load_full_config, config.py:273-289)
    val (overrides, args0) = graft.config.GraftConfig.parseCliArgs(rawArgs.toSeq)
    val cfgTree = graft.config.GraftConfig.loadFull(
      overrides.get("config"), sys.env, overrides - "config")
    val pipelineCfg = graft.config.GraftConfig.toPipelineConfig(cfgTree)
    val args = args0.toArray
    require(args.length >= 2, usage)
    val cmd = args(0)
    val paths = IndexPaths(args(1))
    val spark = session()
    import spark.implicits._
    def exit(code: Int): Nothing = { spark.stop(); sys.exit(code) }

    cmd match {
      case "subprocess" =>
        // one JSON request on stdin -> one JSON response on stdout; an
        // optional file argument replaces stdin (sbt's batch mode does not
        // forward stdin to forked JVMs; spark-submit does).
        // --batch <file> switches to batch mode (cli_subprocess.py:124-230):
        // a {"queries": [...]} file, one engine session across all queries,
        // output to --output <file> or stdout.
        lazy val backend = new SparkBackend(spark, paths) // one session per invocation
        val deps = graft.config.Subprocess.Deps(
          runQuery = (q, cfg) =>
            Pipeline.searchTopK(backend, q,
              graft.config.GraftConfig.toPipelineConfig(cfg)),
          listCollections = graft.config.Subprocess.fsCollections)
        overrides.get("batch") match {
          case Some(batchFile) =>
            // reference batch config (cli_subprocess.py:142-157): defaults
            // -> EXPLICIT --config file only (no implicit ./config.yaml —
            // that auto-load belongs to the subprocess JSON mode's
            // process_config, not batch) -> the reference's three batch
            // CLI overrides (--pdf_dir/--cache_dir/--top_k); per-query
            // configs merge on top inside handleBatch. No env layer.
            // The whole branch (file read, override parsing, dispatch) is
            // guarded: the reference's batch_processing_mode catches
            // everything and reports "Error in batch processing: ..." on
            // stderr with exit 1 (cli_subprocess.py:226-230) — a missing
            // batch file or non-numeric --top_k must not stack-trace past
            // spark.stop().
            try {
            var baseCfg = graft.config.GraftConfig.merge(
              graft.config.GraftConfig.defaults,
              overrides.get("config").map(graft.config.GraftConfig.loadFile)
                .getOrElse(Map.empty: graft.config.GraftConfig.Tree))
            for ((flag, path) <- Seq(
                "pdf_dir" -> Seq("paths", "pdf_dir"),
                "cache_dir" -> Seq("paths", "cache_dir"),
                "top_k" -> Seq("rerank", "final_top_k"));
              raw <- overrides.get(flag)) {
              val v: Any = if (flag == "top_k") raw.toLong else raw
              baseCfg = graft.config.GraftConfig.setPath(baseCfg, path, v)
            }
            val input = java.nio.file.Files.readString(
              java.nio.file.Paths.get(batchFile))
            graft.config.Subprocess.handleBatch(input, deps, baseCfg) match {
              case Left(err) =>
                System.err.println(s"Error: $err")
                exit(1)
              case Right(json0) =>
                val json = if (overrides.contains("pretty"))
                  graft.config.Subprocess.prettify(json0) else json0
                overrides.get("output") match {
                  case Some(out) =>
                    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
                    println(s"Batch processing complete. Results written to $out")
                  case None => println(json)
                }
                exit(0)
            }
            } catch {
              case e: Throwable if !e.isInstanceOf[scala.util.control.ControlThrowable] =>
                System.err.println(s"Error in batch processing: ${e.getMessage}")
                exit(1)
            }
          case None =>
            val input =
              if (args.length > 2)
                java.nio.file.Files.readString(java.nio.file.Paths.get(args(2)))
              else scala.io.Source.stdin.mkString
            val (resp, code) = graft.config.Subprocess.handle(input, deps)
            println(if (overrides.contains("pretty"))
              graft.config.Subprocess.prettify(resp) else resp)
            exit(code)
        }
      case "build" =>
        val nPages = if (args.length > 2) args(2).toLong else 10000L
        val seed = if (args.length > 3) args(3).toLong else 42L
        val pages = WebPages.generate(spark, nPages, seed)
          .map(p => PageDoc(p.url, 1, p.text, None))
        val t0 = System.nanoTime()
        // 4x cores: finer shuffle grain balances the (bucket, shard) groups
        // across reducers (cores-sized partitions leave stragglers — A/B'd
        // at local[4]/local[16]: 27.1->24.3s / 11.0->9.2s, BENCH.md r4)
        val stats = ResumableBuild.run(spark, pages, paths,
          graft.config.GraftConfig.toBuildConfig(cfgTree).copy(shufflePartitions =
            BuildConfig.shufflePartitionsFor(spark.sparkContext.defaultParallelism)),
          ChunkerConfig(), ResumableBuild.ResumeConfig())
        ResumableBuild.writeUrlManifest(
          WebPages.generate(spark, nPages, seed).toDF(), paths)
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[graft] indexed ${stats.nDocs} chunks from $nPages pages in $secs%.1fs " +
          f"(${stats.nDocs / secs}%.0f chunks/s); vocab=${stats.vocabSize} avgdl=${stats.avgdl}%.2f")
      case "update" =>
        // re-crawl simulation driving the change-proportional incremental
        // path end-to-end:
        //   update <indexDir> [nPages] [seed] [everyNth]
        // regenerates the same corpus with every Nth url re-crawled (newer
        // warc_ts + appended text), runs detectChanged against the url
        // manifest `build` wrote, then incrementalUpdate.
        val nPages = if (args.length > 2) args(2).toLong else 10000L
        val seed = if (args.length > 3) args(3).toLong else 42L
        val everyNth = if (args.length > 4) args(4).toLong else 1000L
        val crawl = WebPages.generate(spark, nPages, seed).map { p =>
          if (java.lang.Long.remainderUnsigned(
              graft.index.IndexBuilder.stableId(p.url), everyNth) == 0)
            p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L),
              text = p.text + " recrawled revision content")
          else p
        }
        val manifest = spark.read.parquet(ResumableBuild.urlManifestPath(paths))
        val (newU, changedU, removedU) =
          ResumableBuild.detectChanged(spark, crawl.toDF(), manifest)
        println(s"[graft] detected new=${newU.count()} changed=${changedU.count()} " +
          s"removed=${removedU.count()}")
        val t0 = System.nanoTime()
        val stats = ResumableBuild.incrementalUpdate(spark,
          crawl.map(p => PageDoc(p.url, 1, p.text, None)),
          // removed urls count as changed too: their bucket re-chunks from
          // a crawl that lacks them, which evicts their chunks
          changedU.union(newU).union(removedU), paths,
          graft.config.GraftConfig.toBuildConfig(cfgTree).copy(shufflePartitions =
            BuildConfig.shufflePartitionsFor(spark.sparkContext.defaultParallelism)),
          ChunkerConfig(), ResumableBuild.ResumeConfig())
        ResumableBuild.writeUrlManifest(crawl.toDF(), paths)
        val secs = (System.nanoTime() - t0) / 1e9
        val m = TableIO.readManifest(paths.manifest).getOrElse(Map.empty)
        println(f"[graft] incremental update in $secs%.1fs — nDocs=${stats.nDocs} " +
          s"dedup_mode=${m.getOrElse("dedup_mode", "full")} " +
          s"shards=${m.getOrElse("incremental_shards", "-")} " +
          s"ubuckets=${m.getOrElse("incremental_ubuckets", "-")}")
      case "query" =>
        val q = args.drop(2).mkString(" ")
        val backend = new SparkBackend(spark, paths)
        val out = Pipeline.searchTopK(backend, q, pipelineCfg)
        println(s"[graft] query='$q' confidence=${out.confidence.level}(${out.confidence.score})")
        out.results.foreach(r =>
          println(f"  ${r.score.getOrElse(0.0)}%8.3f ${r.source.file}%-40s ${r.text.take(70)}"))
      case "wand" =>
        val q = args.drop(2).mkString(" ")
        val backend = new SparkBackend(spark, paths)
        val top = Wand.topK(spark, paths, backend.stats, q, 10, backend.idfFor)
        println(s"[graft] WAND top-${top.length} for '$q':")
        top.foreach { case (doc, s) => println(f"  $s%10.4f  doc=$doc") }
      case "directbuild" =>
        val nPages = if (args.length > 2) args(2).toLong else 20000L
        val pages = WebPages.generate(spark, nPages, 42,
          spark.sparkContext.defaultParallelism * 2)
          .map(p => PageDoc(p.url, 1, p.text, None))
        val buildCfg = BuildConfig(shufflePartitions =
          BuildConfig.shufflePartitionsFor(spark.sparkContext.defaultParallelism))
        // same-shape warm-up then timed direct build; SPARK_GRAFT_BUILD_REPS
        // > 1 repeats the timed build and reports the best (a cold JVM's
        // first full build pays JIT compilation — repetitions measure the
        // steady state the in-JVM scaling baselines run at)
        IndexBuilder.build(spark,
          graft.corpus.ChunkerJob.chunk(pages.limit(1000), ChunkerConfig()),
          IndexPaths(s"${paths.root}-warm"), buildCfg)
        val reps = sys.env.getOrElse("SPARK_GRAFT_BUILD_REPS", "1").toInt
        var best = Double.MaxValue
        var lastStats: graft.index.GlobalStats = null
        for (_ <- 1 to math.max(1, reps)) {
          val t0 = System.nanoTime()
          lastStats = IndexBuilder.build(spark,
            graft.corpus.ChunkerJob.chunk(pages, ChunkerConfig()), paths, buildCfg)
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        println(f"[graft] directbuild ${lastStats.nDocs} chunks in $best%.1fs " +
          f"(${nPages / best}%.0f pages/s)")
      case "stats" =>
        println(TableIO.readManifest(paths.manifest).getOrElse(Map.empty)
          .toSeq.sortBy(_._1).map { case (k, v) => s"  $k = $v" }.mkString("\n"))
        spark.read.parquet(paths.metrics).show(50, truncate = false)
      case other =>
        System.err.println(s"unknown command $other\n$usage")
        exit(2)
    }
    spark.stop()
  }
}
