package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.ExecutedPlans
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.{ChunkerConfig, ChunkerJob, PageDoc, WebPages}
import graft.index._

class ResumableBuildSpec extends AnyFunSuite with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val chunker = ChunkerConfig(qualityCheck = false)
  private val build = BuildConfig(nTermBuckets = 8, nDocShards = 2, shufflePartitions = 8)
  private val resume = ResumableBuild.ResumeConfig(nInputBuckets = 8)

  private def pagesA = WebPages.generate(spark, 150, seed = 42, partitions = 4)
    .map(p => PageDoc(p.url, 1, p.text, None))

  test("build resumes from checkpoints after a mid-build crash") {
    val dir = tempDir("graft-resume")
    val out = IndexPaths(dir)
    val ex = intercept[RuntimeException] {
      ResumableBuild.chunkPhase(spark, pagesA, out, chunker,
        resume.copy(failAfterBuckets = 3))
    }
    assert(ex.getMessage.contains("aborted"))
    val cps1 = TableIO.readCheckpoints(out.checkpoints)
    assert(cps1.size == 3)

    // restart: completes only the remaining buckets
    val processed = ResumableBuild.chunkPhase(spark, pagesA, out, chunker, resume)
    assert(processed.size == resume.nInputBuckets - 3)
    val stats = ResumableBuild.indexPhase(spark, out, build, resume)

    // equivalent non-resumed build
    val dir2 = tempDir("graft-direct")
    val out2 = IndexPaths(dir2)
    val direct = IndexBuilder.build(spark,
      ChunkerJob.chunk(pagesA, chunker), out2, build)
    assert(stats.nDocs == direct.nDocs)
    assert(math.abs(stats.avgdl - direct.avgdl) < 1e-12)
    assert(stats.vocabSize == direct.vocabSize)

    // identical search results through both indexes
    val cfgP = graft.query.PipelineConfig()
    val b1 = new graft.query.SparkBackend(spark, out)
    val b2 = new graft.query.SparkBackend(spark, out2)
    val q = "quantum physics experiment"
    val r1 = graft.query.Pipeline.searchTopK(b1, q, cfgP)
    val r2 = graft.query.Pipeline.searchTopK(b2, q, cfgP)
    assert(r1.results == r2.results)
    assert(r1.results.nonEmpty)
  }

  test("the chunk phase writes one chunks_raw file per bucket directory") {
    val out = IndexPaths(tempDir("graft-rawfiles"))
    val pages = pagesA
    assert(pages.rdd.getNumPartitions > 1, "setup: a multi-partition input")
    ResumableBuild.run(spark, pages, out, build, chunker, resume)
    val dirs = new java.io.File(ResumableBuild.chunksRawDir(out)).listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(dirs.length > 1, "setup: several bucket directories")
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName} holds ${files.length} parquet files")
    }
    // the merged corpus is the chunker's output, deduped
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("chunkId", "source", "page", "chunkIdx", "text")
        .as[(Long, String, Int, Int, String)].collect().sorted.toSeq
    assert(rows(spark.read.parquet(out.chunks)) ==
      rows(ChunkerJob.dedup(ChunkerJob.chunk(pages, chunker)).toDF()))
  }

  test("chunker-config change invalidates checkpoints") {
    val dir = tempDir("graft-inval")
    val out = IndexPaths(dir)
    ResumableBuild.chunkPhase(spark, pagesA, out, chunker, resume)
    assert(TableIO.readCheckpoints(out.checkpoints).size == resume.nInputBuckets)
    // different window size -> full re-chunk
    val processed = ResumableBuild.chunkPhase(spark, pagesA, out,
      chunker.copy(windowChars = 300), resume)
    assert(processed.size == resume.nInputBuckets)
  }

  test("warc_ts changed-detection: a re-crawled url triggers exactly its bucket") {
    val dir = tempDir("graft-ts")
    val out = IndexPaths(dir)
    val crawlA = WebPages.generate(spark, 150, seed = 42, partitions = 4)
    ResumableBuild.run(spark, crawlA.map(p => PageDoc(p.url, 1, p.text, None)),
      out, build, chunker, resume)
    ResumableBuild.writeUrlManifest(crawlA.toDF(), out)

    // crawl B: one url re-crawled with a newer warc_ts + new text, one new url
    val recrawled = crawlA.filter(col("url").endsWith("page03")).limit(1)
      .collect().head
    val crawlB = crawlA.map { p =>
      if (p.url == recrawled.url)
        p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L),
          text = p.text + " recrawl sentinel content")
      else p
    }.union(spark.createDataset(Seq(WebPages.pageFor(999999L, 7L))))

    val manifest = spark.read.parquet(ResumableBuild.urlManifestPath(out))
    val (newU, changed, removed) =
      ResumableBuild.detectChanged(spark, crawlB.toDF(), manifest)
    assert(changed.collect().map(_.getString(0)).toSeq == Seq(recrawled.url))
    assert(newU.count() == 1)
    assert(removed.count() == 0)

    val before = TableIO.readCheckpoints(out.checkpoints).size
    ResumableBuild.incrementalUpdate(spark,
      crawlB.map(p => PageDoc(p.url, 1, p.text, None)),
      changed.union(newU), out, build, chunker, resume)
    val incr = TableIO.readCheckpoints(out.checkpoints).drop(before)
    val expectedBuckets = Set(recrawled.url, WebPages.pageFor(999999L, 7L).url)
      .map(u => graft.index.IndexBuilder.termBucket(u, resume.nInputBuckets))
    assert(incr.flatMap(_.get("bucket")).map(_.toInt).toSet == expectedBuckets)
    assert(spark.read.parquet(out.chunks)
      .filter(col("text").contains("recrawl sentinel")).count() > 0)
  }

  test("incremental update rebuilds only affected doc shards' block partitions") {
    val build16 = build.copy(nDocShards = 16)
    val dir = tempDir("graft-shardincr")
    val out = IndexPaths(dir)
    ResumableBuild.run(spark, pagesA, out, build16, chunker, resume)

    // per-shard block file inventory: a rewritten (bucket, shard) dir gets
    // fresh part-file names, an untouched one keeps its exact paths+sizes
    def filesByShard(): Map[Int, Set[(String, Long)]] = {
      val root = java.nio.file.Paths.get(out.blocks)
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map { p =>
          val shard = "shard=(\\d+)".r.findFirstMatchIn(p.toString).get.group(1).toInt
          shard -> ((p.toString, java.nio.file.Files.size(p)))
        }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      finally s.close()
    }
    def filesByU(): Map[Int, Set[(String, Long)]] = {
      val root = java.nio.file.Paths.get(out.chunks)
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map { p =>
          val u = "ubucket=(\\d+)".r.findFirstMatchIn(p.toString).get.group(1).toInt
          u -> ((p.toString, java.nio.file.Files.size(p)))
        }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      finally s.close()
    }
    val before = filesByShard()
    val beforeU = filesByU()
    assert(before.keySet.size > 4, "setup: expected many shard dirs")
    assert(beforeU.keySet.size > 4, "setup: expected many ubucket dirs")

    // one url gets new text; everything else byte-identical
    val targetUrl = pagesA.select("url").as[String].orderBy("url").head()
    val pagesB = pagesA.map(p =>
      if (p.url == targetUrl)
        p.copy(text = p.text + " incremental shard sentinel marker")
      else p)
    val changedDF = Seq(targetUrl).toDF("url")
    val (stats, plans) = ExecutedPlans(spark)(ResumableBuild.incrementalUpdate(
      spark, pagesB, changedDF, out, build16, chunker, resume))

    val manifest = TableIO.readManifest(out.manifest).get
    assert(manifest.contains("incremental_shards"),
      "expected the shard-grain incremental path, not a full rebuild")
    val incShards = manifest("incremental_shards").split(",").map(_.toInt).toSet
    assert(incShards.nonEmpty && incShards.size < 8,
      s"one url should touch few shards, got $incShards")
    // the diff's old-state source: the 16 B/chunk signature side table,
    // mirroring the chunk table exactly (no old-text read at scale)
    val sigs = spark.read.parquet(out.chunkSigs)
    assert(sigs.columns.toSet == Set("chunkId", "h", "dhash", "ubucket"))
    assert(sigs.count() == spark.read.parquet(out.chunks).count())
    // the re-crawl of one url must take the change-proportional dedup
    // path (raw sigs present) — no full-corpus dedup shuffle
    assert(manifest.get("dedup_mode").contains("change-proportional"))
    // chunk-table grain: only the changed url's ubucket partition rewritten
    val incU = manifest("incremental_ubuckets")
    assert(incU != "all" && incU.split(",").length < resume.nInputBuckets / 2,
      s"one url should touch few ubuckets, got $incU")
    val after = filesByShard()
    for (s <- before.keySet -- incShards)
      assert(after.get(s).contains(before(s)),
        s"untouched shard $s was rewritten")
    for (s <- incShards if before.contains(s))
      assert(after.getOrElse(s, Set.empty) != before(s),
        s"affected shard $s kept its old files")
    // untouched url-bucket partitions keep their exact chunk files too —
    // the static-bonus analyzer pass never ran over them
    val incUSet = incU.split(",").map(_.toInt).toSet
    val afterU = filesByU()
    for (u <- beforeU.keySet -- incUSet)
      assert(afterU.get(u).contains(beforeU(u)),
        s"untouched ubucket $u was rewritten")
    for (u <- incUSet if beforeU.contains(u))
      assert(afterU.getOrElse(u, Set.empty) != beforeU(u),
        s"affected ubucket $u kept its old files")

    // THE 100 TB update contract (VERDICT r4 #1): the exchange slice's
    // chunk-table scan must prune to the affected cbucket directories
    // (shard = cbucket % nShards) — listFiles under the scan's own
    // partition filters is the exact file set the executed scan reads.
    // Collect scan leaves THROUGH AdaptiveSparkPlanExec and its query
    // stages (AQE roots and stages hide their subtree from plain collect)
    def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => fileScans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => fileScans(r.child)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(fileScans)
    }
    val chunkScans = plans.flatMap(fileScans).filter(s =>
      s.relation.location.rootPaths
        .exists(_.toString.stripSuffix("/").endsWith("/chunks")) &&
        s.partitionFilters.exists(_.references.exists(_.name == "cbucket")))
    assert(chunkScans.nonEmpty, "the update ran no cbucket-pruned chunk-table scan")
    val readFiles = chunkScans.flatMap(s =>
      s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
        .flatMap(_.files.map(_.getPath.toString)))
    assert(readFiles.nonEmpty, "pruned scan reads no files at all")
    for (f <- readFiles) {
      val cb = "cbucket=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)
      assert(cb.isDefined, s"chunk file outside cbucket layout read: $f")
      assert(incShards.contains(cb.get % stats.nDocShards),
        s"exchange slice reads an UNAFFECTED cbucket dir: $f " +
          s"(affected shards: $incShards)")
    }

    // per-shard avgdl lineage: affected shards stamped with the update
    // avgdl, minBlockAvgdl == min over live shards (ADVICE r4 #1)
    val shardAvgdl = spark.read.parquet(out.shardStats)
      .select("shard", "avgdl").as[(Int, Double)].collect().toMap
    assert(shardAvgdl.keySet == (0 until stats.nDocShards).toSet)
    for (s <- incShards)
      assert(math.abs(shardAvgdl(s) - stats.avgdl) < 1e-12,
        s"rebuilt shard $s not stamped with the update avgdl")
    assert(math.abs(shardAvgdl.values.min - stats.minBlockAvgdl) < 1e-12,
      "minBlockAvgdl != min over live shards")

    // result parity vs a from-scratch build over the same final corpus
    val out2 = IndexPaths(
      tempDir("graft-shardincr-direct"))
    val direct = IndexBuilder.build(spark,
      ChunkerJob.chunk(pagesB, chunker), out2, build16)
    assert(stats.nDocs == direct.nDocs)
    assert(math.abs(stats.avgdl - direct.avgdl) < 1e-12)
    assert(stats.vocabSize == direct.vocabSize)
    assert(stats.nDocShards == direct.nDocShards)

    val b1 = new graft.query.SparkBackend(spark, out)
    val b2 = new graft.query.SparkBackend(spark, out2)
    for (q <- Seq("quantum physics experiment", "sentinel marker",
        "climate ocean temperature")) {
      val toks = graft.analysis.Analyzer.tokenize(q).toIndexedSeq
      val s1 = b1.scoresDF(toks).as[(Long, Double)].collect().toMap
      val s2 = b2.scoresDF(toks).as[(Long, Double)].collect().toMap
      assert(s1.keySet == s2.keySet, s"'$q' matched docs differ")
      s1.foreach { case (id, v) =>
        assert(math.abs(v - s2(id)) < 1e-9, s"'$q' doc $id: $v vs ${s2(id)}") }
      val w1 = graft.query.Wand.topK(spark, out, b1.stats, q, 10, b1.idfFor)
      val w2 = graft.query.Wand.topK(spark, out2, b2.stats, q, 10, b2.idfFor)
      assert(w1.map(_._1) == w2.map(_._1), s"'$q' WAND ids differ")
      w1.zip(w2).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) < 1e-9) }
    }
    // term_stats parity (df exact, idf to float-order tolerance)
    val t1 = spark.read.parquet(out.termStats)
      .select("term", "df", "idf").as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val t2 = spark.read.parquet(out2.termStats)
      .select("term", "df", "idf").as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(t1.keySet == t2.keySet)
    t1.foreach { case (term, (df, idf)) =>
      assert(df == t2(term)._1, s"df($term)")
      assert(math.abs(idf - t2(term)._2) < 1e-9, s"idf($term)")
    }
    // the updated content is servable
    assert(spark.read.parquet(out.chunks)
      .filter(col("text").contains("incremental shard sentinel")).count() > 0)
  }

  test("a metadata-only change is caught by the incremental diff (static bonuses depend on it)") {
    val build16 = build.copy(nDocShards = 16)
    val dir = tempDir("graft-metaincr")
    val out = IndexPaths(dir)
    ResumableBuild.run(spark, pagesA, out, build16, chunker, resume)
    val targetUrl = pagesA.select("url").as[String].orderBy("url").head()
    // text byte-identical, only the title (-> ChunkMeta -> meta_b) changes
    val pagesB = pagesA.map(p =>
      if (p.url == targetUrl) p.copy(title = Some("Abstract Fresh Title")) else p)
    ResumableBuild.incrementalUpdate(
      spark, pagesB, Seq(targetUrl).toDF("url"), out, build16, chunker, resume)
    val manifest = TableIO.readManifest(out.manifest).get
    assert(manifest.contains("incremental_shards"),
      "a (text, meta) diff must see the title change — text-only hashing misses it")
    val served = spark.read.parquet(out.chunks)
      .filter(col("source") === targetUrl)
      .select("meta.title").as[Option[String]].collect()
    assert(served.nonEmpty && served.forall(_.contains("Abstract Fresh Title")))
  }

  test("a crashed incremental swap (pending_incremental marker) forces a full rebuild") {
    val dir = tempDir("graft-pending")
    val out = IndexPaths(dir)
    ResumableBuild.run(spark, pagesA, out, build, chunker, resume)
    // simulate a crash inside the shard-swap window of a previous update
    val m = TableIO.readManifest(out.manifest).get
    TableIO.writeManifest(out.manifest, m + ("pending_incremental" -> "0,1"))
    val targetUrl = pagesA.select("url").as[String].orderBy("url").head()
    val pagesB = pagesA.map(p =>
      if (p.url == targetUrl) p.copy(text = p.text + " post crash content") else p)
    val stats = ResumableBuild.incrementalUpdate(
      spark, pagesB, Seq(targetUrl).toDF("url"), out, build, chunker, resume)
    val after = TableIO.readManifest(out.manifest).get
    assert(!after.contains("pending_incremental"), "marker must clear on rebuild")
    assert(!after.contains("incremental_shards"),
      "suspect blocks must take the full-rebuild path, not shard-grain")
    assert(stats.nDocs > 0)
    assert(spark.read.parquet(out.chunks)
      .filter(col("text").contains("post crash content")).count() > 0)

    // a full build that crashed between its table commits leaves
    // pending_build — same recovery contract
    TableIO.writeManifest(out.manifest,
      TableIO.readManifest(out.manifest).get + ("pending_build" -> "1"))
    val pagesC = pagesB.map(p =>
      if (p.url == targetUrl) p.copy(text = p.text + " second change") else p)
    ResumableBuild.incrementalUpdate(
      spark, pagesC, Seq(targetUrl).toDF("url"), out, build, chunker, resume)
    val after2 = TableIO.readManifest(out.manifest).get
    assert(!after2.contains("pending_build"))
    assert(!after2.contains("incremental_shards"),
      "pending_build must also force the full-rebuild path")
  }

  test("incremental update evicts removed urls, including a fully-emptied bucket") {
    val dir = tempDir("graft-evict")
    val out = IndexPaths(dir)
    ResumableBuild.run(spark, pagesA, out, build, chunker, resume)
    // remove EVERY url of one bucket: its re-chunk yields zero rows, and
    // dynamic overwrite alone would leave the stale partition serving
    val allUrls = pagesA.select("url").as[String].collect()
    val b0 = IndexBuilder.termBucket(allUrls.head, resume.nInputBuckets)
    val removedSet = allUrls.filter(u =>
      IndexBuilder.termBucket(u, resume.nInputBuckets) == b0).toSet
    assert(removedSet.nonEmpty && removedSet.size < allUrls.length)
    val pagesB = pagesA.filter(p => !removedSet.contains(p.url))
    val stats = ResumableBuild.incrementalUpdate(spark, pagesB,
      removedSet.toSeq.toDF("url"), out, build, chunker, resume)
    assert(spark.read.parquet(out.chunks)
      .filter(col("source").isin(removedSet.toSeq: _*)).count() == 0,
      "removed urls still served")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"${ResumableBuild.chunksRawDir(out)}/bucket=$b0")),
      "emptied raw bucket dir must be deleted (stale under dynamic overwrite)")
    val direct = IndexBuilder.build(spark, ChunkerJob.chunk(pagesB, chunker),
      IndexPaths(tempDir("graft-evict-d")),
      build)
    assert(stats.nDocs == direct.nDocs)
    assert(!TableIO.readManifest(out.manifest).get.contains("pending_update"))
  }

  test("a crashed update (pending_update marker) retries as a full rebuild") {
    val dir = tempDir("graft-pupd")
    val out = IndexPaths(dir)
    ResumableBuild.run(spark, pagesA, out, build, chunker, resume)
    // simulate: previous update crashed after its chunk phase — the
    // pre-overwrite raw sigs are gone, so change-proportional must not run
    TableIO.writeManifest(out.manifest,
      TableIO.readManifest(out.manifest).get + ("pending_update" -> "1"))
    val targetUrl = pagesA.select("url").as[String].orderBy("url").head()
    val pagesB = pagesA.map(p =>
      if (p.url == targetUrl) p.copy(text = p.text + " retry sentinel words") else p)
    val stats = ResumableBuild.incrementalUpdate(spark, pagesB,
      Seq(targetUrl).toDF("url"), out, build, chunker, resume)
    val m = TableIO.readManifest(out.manifest).get
    assert(!m.contains("pending_update"), "marker must clear on completion")
    assert(!m.contains("incremental_shards"),
      "interrupted retry must take the full-rebuild path, not shard-grain")
    val direct = IndexBuilder.build(spark, ChunkerJob.chunk(pagesB, chunker),
      IndexPaths(tempDir("graft-pupd-d")),
      build)
    assert(stats.nDocs == direct.nDocs)
    assert(math.abs(stats.avgdl - direct.avgdl) < 1e-12)
    assert(stats.vocabSize == direct.vocabSize)
    assert(spark.read.parquet(out.chunks)
      .filter(col("text").contains("retry sentinel")).count() > 0)
  }

  test("a raw-sigs bucket missing for an untouched bucket declines to a full rebuild") {
    val build16 = build.copy(nDocShards = 16)
    val out = IndexPaths(tempDir("graft-sigsgap"))
    ResumableBuild.run(spark, pagesA, out, build16, chunker, resume)
    val targetUrl = pagesA.select("url").as[String].orderBy("url").head()
    val targetB = IndexBuilder.termBucket(targetUrl, resume.nInputBuckets)
    // the side table no longer covers one bucket the update does not touch:
    // the change-proportional path cannot see that bucket's dedup groups
    val gap = (0 until resume.nInputBuckets).filter(_ != targetB)
      .map(b => java.nio.file.Paths.get(s"${ResumableBuild.rawSigsDir(out)}/bucket=$b"))
      .find(java.nio.file.Files.isDirectory(_)).get
    val walk = java.nio.file.Files.walk(gap)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
    finally walk.close()
    val pagesB = pagesA.map(p =>
      if (p.url == targetUrl) p.copy(text = p.text + " coverage gap sentinel") else p)
    val stats = ResumableBuild.incrementalUpdate(spark, pagesB,
      Seq(targetUrl).toDF("url"), out, build16, chunker, resume)
    val m = TableIO.readManifest(out.manifest).get
    assert(!m.contains("incremental_shards"), "a coverage gap must take the full rebuild")
    assert(!m.keySet.exists(_.startsWith("pending_")), s"marker left behind: $m")
    val out2 = IndexPaths(
      tempDir("graft-sigsgap-direct"))
    IndexBuilder.build(spark, ChunkerJob.chunk(pagesB, chunker), out2, build16)
    val b1 = new graft.query.SparkBackend(spark, out)
    val b2 = new graft.query.SparkBackend(spark, out2)
    for (q <- Seq("quantum physics experiment", "coverage gap sentinel",
        "climate ocean temperature")) {
      val w1 = graft.query.Wand.topK(spark, out, b1.stats, q, 10, b1.idfFor)
      val w2 = graft.query.Wand.topK(spark, out2, b2.stats, q, 10, b2.idfFor)
      assert(w1.nonEmpty, s"'$q' found nothing")
      assert(w1.map(_._1) == w2.map(_._1), s"'$q' WAND ids differ")
      w1.zip(w2).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) < 1e-9) }
    }
    assert(stats.nDocs == b2.stats.nDocs)
  }

  test("minBlockAvgdl recovers once every stale shard is rebuilt (no permanent ratchet)") {
    import graft.corpus.{ChunkMeta, ChunkRow}
    val nSh = 4
    // one url bucket: every chunk sits in ubucket 0, so each update
    // rewrites the whole (tiny) chunk table and only the named shards' blocks
    val cfg = BuildConfig(nTermBuckets = 4, nDocShards = nSh, nUrlBuckets = 1,
      shufflePartitions = 8)
    // deterministic chunk ids per doc shard (shard = pmod(xxhash64(id), n),
    // the same hash chunkBucket computes)
    val idsByShard = (0 until nSh).map { s =>
      s -> (0L until 10000L).filter(IndexBuilder.chunkBucket(_, nSh) == s)
        .take(3).toIndexedSeq
    }.toMap
    def mkChunk(id: Long, words: Int) = ChunkRow(id, id, s"u$id.html", 1, 0,
      // "quantum" is not in the STOP list ("data" is — it would tokenize
      // to an empty corpus)
      (0 until words).map(w => s"quantum$w").mkString(" "), ChunkMeta())
    def corpus(lenOf: Long => Int) =
      idsByShard.values.flatten.map(id => mkChunk(id, lenOf(id))).toSeq
    // an update's input carries the chunk table's partition columns
    def frame(lenOf: Long => Int) = spark.createDataset(corpus(lenOf)).toDF()
      .withColumn("ubucket", lit(0))
      .withColumn("cbucket", pmod(xxhash64(col("chunkId")), lit(nSh)).cast("int"))
    val out = IndexPaths(
      tempDir("graft-avgdl"))
    val s0 = IndexBuilder.build(spark, spark.createDataset(corpus(_ => 10)), out, cfg)
    // update 1: shards 0,1 rebuilt under a LARGER avgdl; 2,3 left stale
    val shard01 = (idsByShard(0) ++ idsByShard(1)).toSet
    val s1 = IndexBuilder.incrementalBuild(spark,
      frame(id => if (shard01(id)) 30 else 10), out, cfg, s0, Seq(0, 1), Seq(0))
    assert(s1.avgdl > s0.avgdl)
    assert(math.abs(s1.minBlockAvgdl - s0.avgdl) < 1e-12,
      "stale shards 2,3 must still pin the bound floor")
    // update 2: shards 2,3 rebuilt too — no live block predates update 1,
    // so the floor must RECOVER to the oldest live shard's avgdl (a pure
    // ratchet would keep s0.avgdl forever and inflate WAND bounds)
    val s2 = IndexBuilder.incrementalBuild(spark,
      frame(_ => 30), out, cfg, s1, Seq(2, 3), Seq(0))
    assert(math.abs(s2.minBlockAvgdl - s1.avgdl) < 1e-12,
      s"floor should recover to ${s1.avgdl}, got ${s2.minBlockAvgdl}")
    assert(s2.minBlockAvgdl > s0.avgdl)
  }

  test("incremental update reprocesses only changed urls' buckets") {
    val dir = tempDir("graft-incr")
    val out = IndexPaths(dir)
    val crawlA = WebPages.generate(spark, 150, seed = 42, partitions = 4)
    ResumableBuild.run(spark, crawlA.map(p => PageDoc(p.url, 1, p.text, None)),
      out, build, chunker, resume)
    ResumableBuild.writeUrlManifest(crawlA.toDF(), out)

    // crawl B: 10 pages re-crawled with a newer warc_ts and new content
    val crawlB = crawlA.map { p =>
      if (p.url.hashCode % 15 == 0)
        p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L),
          text = p.text + " freshly recrawled marker content appears here")
      else p
    }
    val (_, changed, _) = ResumableBuild.detectChanged(spark, crawlB.toDF(),
      spark.read.parquet(ResumableBuild.urlManifestPath(out)))
    val nChanged = changed.count()
    assert(nChanged > 0 && nChanged < 150, s"changed=$nChanged")
    val pagesB = crawlB.map(p => PageDoc(p.url, 1, p.text, None))

    val before = TableIO.readCheckpoints(out.checkpoints).size
    ResumableBuild.incrementalUpdate(spark, pagesB, changed, out, build, chunker, resume)
    val incr = TableIO.readCheckpoints(out.checkpoints).drop(before)
    assert(incr.nonEmpty && incr.size <= resume.nInputBuckets)
    assert(incr.forall(_.get("incremental").contains("true")))

    // updated chunks present in the final table
    val marked = spark.read.parquet(out.chunks)
      .filter(col("text").contains("freshly recrawled marker")).count()
    assert(marked > 0)
  }
}
