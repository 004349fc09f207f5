package graft

import org.apache.spark.sql.SparkSession
import graft.corpus.{ChunkerConfig, PageDoc, WebPages}
import graft.index.{BuildConfig, IndexBuilder, IndexPaths, ResumableBuild, TableIO}
import graft.query.{Pipeline, PipelineConfig, SparkBackend, Wand}

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
  *   graft.GraftCli catbench <sfDir> [query...]         — time catalog queries
  */
object GraftCli {

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
    require(args.length >= 2, "usage: build|query|wand|stats|subprocess <indexDir> ...")
    val cmd = args(0)
    val paths = IndexPaths(args(1))
    val spark = session()
    import spark.implicits._
    // backends opened by this invocation, closed before the session stops
    val opened = scala.collection.mutable.ArrayBuffer.empty[SparkBackend]
    def openBackend(): SparkBackend = { val b = new SparkBackend(spark, paths); opened += b; b }
    def exit(code: Int): Nothing = { opened.foreach(_.close()); spark.stop(); sys.exit(code) }

    cmd match {
      case "subprocess" =>
        // one JSON request on stdin -> one JSON response on stdout; an
        // optional file argument replaces stdin (sbt's batch mode does not
        // forward stdin to forked JVMs; spark-submit does).
        // --batch <file> switches to batch mode (cli_subprocess.py:124-230):
        // a {"queries": [...]} file, one engine session across all queries,
        // output to --output <file> or stdout.
        lazy val backend = openBackend() // one session per invocation
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
        val backend = openBackend()
        val out = Pipeline.searchTopK(backend, q, pipelineCfg)
        println(s"[graft] query='$q' confidence=${out.confidence.level}(${out.confidence.score})")
        out.results.foreach(r =>
          println(f"  ${r.score.getOrElse(0.0)}%8.3f ${r.source.file}%-40s ${r.text.take(70)}"))
      case "search-json" =>
        // reference subprocess response shape
        // (subprocess_interface.py:57-133: success/query/results/summary/
        //  confidence/count)
        val q = args.drop(2).mkString(" ")
        val backend = openBackend()
        val out = Pipeline.searchTopK(backend, q, pipelineCfg)
        def js(s: String): String = "\"" + s.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
        def opt(o: Option[String]): String = o.map(js).getOrElse("null")
        val results = out.results.map { r =>
          s"""{"text": ${js(r.text)}, "citation": ${js(r.citation)}, """ +
          s""""source": {"file": ${js(r.source.file)}, "page": ${r.source.page}, """ +
          s""""doi": ${opt(r.source.doi)}, "title": ${opt(r.source.title)}, """ +
          s""""citekey": ${opt(r.source.citekey)}}, """ +
          s""""pandoc": ${opt(r.pandoc)}, "score": ${r.score.getOrElse(0.0)}}"""
        }.mkString("[", ", ", "]")
        val c = out.confidence
        println(
          s"""{"success": true, "query": ${js(q)}, "results": $results, """ +
          s""""summary": null, "confidence": {"level": ${js(c.level)}, """ +
          s""""score": ${c.score}, "spread": ${c.spread}, "stability": ${c.stability}}, """ +
          s""""count": ${out.results.length}}""")
      case "wand" =>
        val q = args.drop(2).mkString(" ")
        val backend = openBackend()
        val top = Wand.topK(spark, paths, backend.stats, q, 10, backend.idfFor)
        println(s"[graft] WAND top-${top.length} for '$q':")
        top.foreach { case (doc, s) => println(f"  $s%10.4f  doc=$doc") }
      case "qprofile" =>
        val backend = openBackend()
        val q = if (args.length > 2) args.drop(2).mkString(" ") else "spark shuffle partition"
        val toks = graft.analysis.Analyzer.tokenize(q).toIndexedSeq
        def t(label: String)(f: => Any): Unit = {
          f // warm
          val t0 = System.nanoTime()
          f
          println(f"[graft] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
        t("scoresDF.count")(backend.scoresDF(toks).count())
        t("topPool")(backend.topPool(q, q, 200, pipelineCfg))
        println(s"[graft] pool path=${backend.lastPoolPath} iters=${backend.lastPoolIters}")
        t("searchTopK")(Pipeline.searchTopK(backend, q, pipelineCfg))
      case "qbench" =>
        val backend = openBackend()
        val qs = Seq("machine learning algorithms", "quick brown fox",
          "gradient descent optimization methods for neural networks training",
          "transformer attention mechanisms", "climate ocean temperature",
          "nobel prize physics", "spark shuffle partition",
          "posting block compression", "checkpoint lineage executor",
          "index build throughput")
        Pipeline.searchTopK(backend, qs.head, PipelineConfig()) // warm
        // SPARK_GRAFT_QBENCH_REPS > 1: repeat the whole set and report the
        // best total (the scaling probes compare set-throughput, where
        // single-shot per-query numbers are too noisy to divide)
        val qreps = sys.env.getOrElse("SPARK_GRAFT_QBENCH_REPS", "1").toInt
        var lat: Seq[(String, Double)] = Nil
        var bestTotal = Double.MaxValue
        for (_ <- 1 to math.max(1, qreps)) {
          val run = qs.map { q =>
            val t0 = System.nanoTime()
            Pipeline.searchTopK(backend, q, PipelineConfig())
            (q, (System.nanoTime() - t0) / 1e9)
          }
          val total = run.map(_._2).sum
          if (total < bestTotal) { bestTotal = total; lat = run }
        }
        lat.foreach { case (q, s) => println(f"[graft] $s%6.2fs  $q") }
        val sorted = lat.map(_._2).sorted
        println(f"[graft] qbench p50=${sorted(sorted.length / 2)}%.2fs " +
          f"max=${sorted.last}%.2fs total=$bestTotal%.2fs")
      case "scaleprobe" =>
        // alternating local[N]/local[4N] sessions in one JVM; best-of-k of a
        // map-only (chunk+tokenize) job and the full index build
        spark.stop()
        val nPages = if (args.length > 2) args(2).toLong else 120000L
        val small = if (args.length > 3) args(3).toInt else 4
        val big = small * 4
        def sess(c: Int) = {
          val b = SparkSession.builder().master(s"local[$c]")
            .config("spark.sql.shuffle.partitions", c.toString)
            .config("spark.ui.enabled", "false")
            .config("spark.local.dir", "/dev/shm/graft-spark")
          // experiment knob: SPARK_GRAFT_CONF="k=v,k=v" extra session confs
          // so shuffle-path A/Bs run in ONE window through the same probe.
          // Values may not contain ',' (the pair separator); every applied
          // pair is echoed so a shredded value can't silently mislabel the
          // A/B.
          sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").filter(_.contains("="))
            .foreach { kv =>
              val Array(k, v) = kv.split("=", 2)
              System.err.println(s"[graft] scaleprobe conf: $k=$v")
              b.config(k, v)
            })
          val s = b.getOrCreate()
          s.sparkContext.setLogLevel("ERROR"); s
        }
        def mapOnly(s: SparkSession): Double = {
          import s.implicits._
          val pages = WebPages.generate(s, nPages, 42, s.sparkContext.defaultParallelism * 2)
          val t0 = System.nanoTime()
          pages.mapPartitions { it =>
            it.map { p =>
              val cleaned = graft.analysis.Analyzer.cleanText(p.text)
              val chunks = graft.analysis.Analyzer.chunkText(cleaned, "", "sliding", 600, 80)
              chunks.iterator.map(c => graft.analysis.Analyzer.tokenize(c).length.toLong).sum
            }
          }.reduce(_ + _)
          (System.nanoTime() - t0) / 1e9
        }
        def fullBuild(s: SparkSession): Double = {
          import s.implicits._
          val pages = WebPages.generate(s, nPages, 42, s.sparkContext.defaultParallelism * 2)
            .map(p => PageDoc(p.url, 1, p.text, None))
          val dir = java.nio.file.Files.createTempDirectory("probe").toString
          // SPARK_GRAFT_SHUF_MULT: experiment knob — shuffle partitions as a
          // multiple of cores; defaults to the production grain so the
          // probe measures what ships (BENCH.md r4)
          val mult = sys.env.getOrElse("SPARK_GRAFT_SHUF_MULT",
            BuildConfig.ShuffleGrainPerCore.toString).toInt
          val t0 = System.nanoTime()
          IndexBuilder.build(s, graft.corpus.ChunkerJob.chunk(pages, ChunkerConfig()),
            IndexPaths(dir), BuildConfig(
              shufflePartitions = s.sparkContext.defaultParallelism * mult))
          (System.nanoTime() - t0) / 1e9
        }
        var tm = Map[(String, Int), List[Double]]().withDefaultValue(Nil)
        for (round <- 1 to 3; c <- Seq(small, big)) {
          val s = sess(c)
          if (round == 1) { mapOnly(s); () } // warm this session size once
          tm += ("map" -> c) -> (mapOnly(s) :: tm(("map", c)))
          tm += ("build" -> c) -> (fullBuild(s) :: tm(("build", c)))
          s.stop()
        }
        for (k <- Seq("map", "build")) {
          val ts = tm((k, small)).min
          val tb = tm((k, big)).min
          val eff = (ts / tb) / (big.toDouble / small)
          println(f"[graft] scaleprobe $k: local[$small]=$ts%.1fs local[$big]=$tb%.1fs " +
            f"speedup=${ts / tb}%.2fx efficiency=$eff%.3f " +
            f"(all small=${tm((k, small)).reverse.map(x => f"$x%.1f").mkString(",")} " +
            f"big=${tm((k, big)).reverse.map(x => f"$x%.1f").mkString(",")})")
        }
      case "directbuild" =>
        val nPages = if (args.length > 2) args(2).toLong else 20000L
        val pages = WebPages.generate(spark, nPages, 42,
          spark.sparkContext.defaultParallelism * 2)
          .map(p => PageDoc(p.url, 1, p.text, None))
        // experiment knob: doc-shard count for A/Bs
        // (the query-scaling probe needs more WAND shards than the 60k-page
        // auto-resolution's 4, or >4 cores have nothing to parallelize)
        val buildCfg = BuildConfig(
          shufflePartitions =
            BuildConfig.shufflePartitionsFor(spark.sparkContext.defaultParallelism),
          nDocShards = sys.env.getOrElse("SPARK_GRAFT_DOC_SHARDS", "0").toInt)
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
      case "explain" =>
        val backend = openBackend()
        val q = if (args.length > 2) args.drop(2).mkString(" ") else "nobel prize physics"
        val toks = graft.analysis.Analyzer.tokenize(q).toIndexedSeq
        println("==== scoresDF (postings join) ====")
        backend.scoresDF(toks).explain("formatted")
        println("==== WAND block files (one task per doc shard) ====")
        Wand.topKReading(spark, paths, backend.stats, q, 10, backend.idfFor)._2
          .foreach { case (f, bytes) => println(f"$bytes%10d  $f") }
      case "chunkbench" =>
        val nPages = if (args.length > 2) args(2).toLong else 20000L
        val pages = WebPages.generate(spark, nPages, 42,
          spark.sparkContext.defaultParallelism * 2)
          .map(p => PageDoc(p.url, 1, p.text, None))
        // warm-up
        graft.corpus.ChunkerJob.chunk(pages.limit(500), ChunkerConfig()).count()
        val t0 = System.nanoTime()
        val n = graft.corpus.ChunkerJob.chunk(pages, ChunkerConfig()).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[graft] chunkbench: $n chunks from $nPages pages in $secs%.1fs " +
          f"(${nPages / secs}%.0f pages/s)")
      case "phasebench" =>
        val nPages = if (args.length > 2) args(2).toLong else 40000L
        import spark.implicits._
        def pages = WebPages.generate(spark, nPages, 42,
          spark.sparkContext.defaultParallelism * 2)
          .map(p => PageDoc(p.url, 1, p.text, None))
        def t(label: String)(f: => Long): Unit = {
          f // warm
          val t0 = System.nanoTime()
          val n = f
          println(f"[graft] $label: $n rows in ${(System.nanoTime() - t0) / 1e9}%.1fs")
        }
        t("gen")(pages.count())
        t("gen+clean")(pages.map(p => graft.analysis.Analyzer.cleanText(p.text).length.toLong)
          .reduce(_ + _))
        val noDedup = pages.mapPartitions { it =>
          it.flatMap { p =>
            val cleaned = graft.analysis.Analyzer.cleanText(p.text)
            if (!graft.analysis.Analyzer.isTextQualityGood(cleaned, 0.5)) Iterator.empty
            else graft.analysis.Analyzer.chunkText(cleaned, "", "sliding", 600, 80).iterator
          }
        }
        t("gen+clean+chunk")(noDedup.count())
        t("full+dedup")(graft.corpus.ChunkerJob.chunk(pages, ChunkerConfig()).count())
      case "postbench" =>
        val nPages = if (args.length > 2) args(2).toLong else 20000L
        val pages = WebPages.generate(spark, nPages, 42,
          spark.sparkContext.defaultParallelism * 2)
          .map(p => PageDoc(p.url, 1, p.text, None))
        val chunks = graft.corpus.ChunkerJob.chunk(pages, ChunkerConfig())
        chunks.write.mode("overwrite").parquet(s"${paths.root}/chunks")
        import spark.implicits._
        val persisted = spark.read.parquet(s"${paths.root}/chunks")
          .as[graft.corpus.ChunkRow]
        IndexBuilder.postings(persisted.limit(500)).count() // warm
        val t0 = System.nanoTime()
        val np = IndexBuilder.postings(persisted).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[graft] postbench: $np postings in $secs%.1fs")
      case "catbench" =>
        // time individual catalog queries against an sf dir:
        //   catbench <sfDir> [queryName...]   (all queries when none named)
        val sfDir = args(1)
        val names =
          if (args.length > 2) args.drop(2).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        for (n <- names) {
          val fn = SparkEntry.queries(n)
          fn(spark, sfDir).count() // warm
          SparkEntryExtra.clearSearchMemo()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          println(f"[graft] catbench $n: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      case "stats" =>
        println(TableIO.readManifest(paths.manifest).getOrElse(Map.empty)
          .toSeq.sortBy(_._1).map { case (k, v) => s"  $k = $v" }.mkString("\n"))
        spark.read.parquet(paths.metrics).show(50, truncate = false)
      case other => sys.error(s"unknown command $other")
    }
    opened.foreach(_.close())
    spark.stop()
  }
}
