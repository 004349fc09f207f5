package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.analysis.{Analyzer, Scoring}
import graft.corpus.ChunkRow
import graft.index.{BlockFiles, GlobalStats, IndexBuilder, IndexPaths}
import graft.spark.SessionMemo

/** Distributed SearchBackend over the persisted index tables.
  *
  * Physical plan of a pool (SURVEY §3.4 Job 3):
  *  1. query terms -> idf, read on the driver with no Spark job: each
  *     missing term's `term_stats/bucket=b` files, with the term filter
  *     pushed into parquet (`BlockFiles.readTermStats`);
  *  2. the default bounded pool is ONE Spark job per round (`Wand.round`):
  *     one task per doc shard reads its own blocks of the query terms'
  *     buckets, runs WAND, then reads its own candidates' chunk rows from
  *     its `cbucket=shard` directories and re-scores them exactly; the
  *     driver merges the shard lists, adds the query bonuses and checks the
  *     rank-safety bound (see boundedPool);
  *  3. the dense pool, the only other pool path (`lastPoolPath`), is ONE
  *     Spark job with one task per doc shard (`topChunks`); it serves the
  *     bounded pool's fallback and every head-term query (sum of df >
  *     nDocs/2). Each task streams its own `cbucket=shard` chunk files
  *     through `BlockFiles`, scores every row's
  *     base BM25 from its own text (`Bm25Stats.scoreText`, the same kernel
  *     as the in-task re-score and `LocalBackend`, summed in query-token
  *     order), then its bonuses (reference semantics, main.py:140-167) —
  *     no posting read, Catalyst plan, shuffle or cache;
  *  4. each task keeps its top k in a k-row heap and the driver merges the
  *     at most k × shards rows in the pool order (`PoolOrder`); RM3
  *     feedback (`topDocsForRm3`) is the same job over base BM25;
  *  5. everything after the <=poolSize pool runs driver-side (Pipeline).
  */
final class SparkBackend(spark: SparkSession, paths: IndexPaths) extends SearchBackend {
  import spark.implicits._

  val stats: GlobalStats = IndexBuilder.loadStats(spark, paths)
  require(stats.nChunkBuckets == stats.nDocShards,
    s"index at ${paths.root} has ${stats.nChunkBuckets} chunk buckets for " +
      s"${stats.nDocShards} doc shards: a full rebuild is required")
  private lazy val blocksDF = spark.read.parquet(paths.blocks) // scoresDF only
  private val idfCache = scala.collection.mutable.HashMap.empty[String, (Double, Long)]

  private def statsFor(terms: Seq[String]): Map[String, (Double, Long)] = {
    val missing = terms.distinct.filterNot(idfCache.contains)
    if (missing.nonEmpty) {
      val found = BlockFiles.readTermStats(spark.sparkContext.hadoopConfiguration,
        paths.termStats, missing, stats.nTermBuckets)
      missing.foreach(t => idfCache(t) = found.getOrElse(t, (0.0, 0L)))
    }
    terms.map(t => t -> idfCache(t)).toMap
  }

  /** idf lookup for query terms, read from term_stats with no Spark job. */
  def idfFor(terms: Seq[String]): Map[String, Double] =
    statsFor(terms).map { case (t, (idf, _)) => t -> idf }

  /** document frequency per query term (0 for unknown terms). */
  def dfFor(terms: Seq[String]): Map[String, Long] =
    statsFor(terms).map { case (t, (_, df)) => t -> df }

  /** Scoring stats restricted to the given query terms. */
  private def bm25StatsFor(queryTokens: Seq[String]): Bm25Stats =
    Bm25Stats(stats.nDocs, stats.avgdl, idfFor(queryTokens), stats.k1, stats.b)

  /** Sparse per-chunk BM25 scores as a DataFrame(chunkId, score). */
  def scoresDF(queryTokens: Seq[String]): DataFrame = {
    val idf = idfFor(queryTokens)
    val qRows = queryTokens.zipWithIndex
      .map { case (t, pos) => (t, pos, idf(t)) }
      .filter(_._3 != 0.0)
    if (qRows.isEmpty)
      return spark.emptyDataset[(Long, Double)].toDF("chunkId", "score")
    val buckets = qRows.map(r => IndexBuilder.termBucket(r._1, stats.nTermBuckets)).distinct
    val q = qRows.toDF("term", "pos", "idf")
    val k1 = stats.k1; val b = stats.b; val avgdl = stats.avgdl
    // Per-position partial sums keep the whole aggregation inside
    // whole-stage codegen; adding the per-position columns left-to-right
    // reproduces the reference's query-token-order float summation exactly
    // (absent terms add literal 0.0, a float no-op — same as the dense
    // reference loop).
    val perPos = qRows.map { case (_, pos, _) =>
      sum(when(col("pos") === pos, col("contrib"))).as(s"c$pos")
    }
    val orderedSum = qRows.map { case (_, pos, _) =>
      coalesce(col(s"c$pos"), lit(0.0))
    }.reduceLeft(_ + _)
    // posting rows decoded on the fly from the compressed blocks table —
    // the scan is pruned to the query terms' bucket partitions and the term
    // filter is pushed to parquet; only matching blocks are ever read.
    val flat = blocksDF
      .filter(col("bucket").isin(buckets: _*) &&
        col("term").isin(qRows.map(_._1).distinct: _*))
      .select("term", "n", "docs", "tfs", "dls")
      .as[(String, Int, Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (term, n, docs, tfs, dls) =>
        val ids = graft.index.Codec.decode(docs, n, deltas = true)
        val f = graft.index.Codec.decode(tfs, n, deltas = false)
        val d = graft.index.Codec.decode(dls, n, deltas = false)
        (0 until n).iterator.map(i => (term, ids(i), f(i), d(i)))
      }
      .toDF("term", "chunkId", "tf", "dl")
    flat
      .join(broadcast(q), "term")
      .withColumn("contrib",
        col("idf") * col("tf") * lit(k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy("chunkId")
      .agg(perPos.head, perPos.tail: _*)
      .select(col("chunkId"), orderedSum.as("score"))
  }

  /** Top-pool by bonused score. Default path: rank-safe bounded pool —
    * WAND top-M superset by base BM25, exact re-score + bonuses on the M
    * candidates only (SURVEY §7.4). The additive bonus total is provably
    * bounded (see maxBonus; the gibberish multiplier only lowers scores),
    * so whenever
    *   minBase(candidates) + Bmax < theta   (theta = P-th candidate bscore)
    * no excluded chunk can reach the pool and the bounded result equals the
    * dense one. Falls back to the reference-exact dense pass over all
    * chunks when the bound cannot be proven (tiny corpora, weak queries,
    * head terms) — so golden parity is untouched. The dense pass is one
    * job of per-shard tasks over the chunk files (see densePool).
    */
  override def topPool(query: String, bm25Query: String, poolSize: Int,
                       cfg: PipelineConfig): IndexedSeq[(ChunkRow, Double)] = {
    val (ctx, bmTokens) = queryContext(query, bm25Query, cfg)
    if (!cfg.densePoolOnly) {
      boundedPool(ctx, query, bm25Query, bmTokens, poolSize, cfg) match {
        case Some(pool) => lastPoolPath = "bounded"; return pool
        case None       => () // bound not provable -> dense fallback
      }
    }
    lastPoolPath = "dense"
    densePool(ctx, bmTokens, poolSize)
  }

  /** The query's bonus context and its BM25 tokens (the query's own when
    * `bm25Query` is the query).
    */
  private def queryContext(query: String, bm25Query: String, cfg: PipelineConfig)
      : (Scoring.QueryBonusContext, IndexedSeq[String]) = {
    val qTokens = Analyzer.tokenize(query).toIndexedSeq
    val bmTokens =
      if (bm25Query == query) qTokens else Analyzer.tokenize(bm25Query).toIndexedSeq
    (new Scoring.QueryBonusContext(query, qTokens, cfg.proxWindow, cfg.proxLambda,
      cfg.ngramLambda), bmTokens)
  }

  /** Diagnostics: which path served the last topPool call. */
  @volatile var lastPoolPath: String = ""

  /** Max possible additive bonus for one chunk of THIS corpus under THIS
    * query (see topPool scaladoc): query-dependent bonuses at their
    * analytic ceilings, chunk-static pattern+metadata at the corpus maximum
    * recorded at build time, and the 2.0-weighted fuzzy term only when the
    * query is long enough to activate it (scoring.py:197 min_length).
    */
  private def maxBonus(query: String, cfg: PipelineConfig): Double =
    cfg.proxLambda + cfg.ngramLambda + stats.maxStaticBonus +
      (if (query != null && query.length >= 20) 2.0 else 0.0)

  /** Rank safety: whenever this returns a pool, it is the dense pool.
    *  - Each shard's task returns its top-M docs by exact base BM25, so the
    *    union of the shard lists contains the global top-M, and the
    *    driver's merge `cand` (the union's best M) is the global top-M.
    *  - A doc outside `cand` has base <= cand's M-th base: the merge cut
    *    it, or its shard returned M docs and it ranks below them, and that
    *    shard's M-th base is <= the merged M-th base (the shard alone has
    *    M docs at or above it).
    *  - When `cand` holds fewer than M docs, every shard returned fewer
    *    than M rows, so every doc with a live query term is a candidate and
    *    an excluded doc has base 0 (weights here are >= 0: a term with a
    *    negative idf has df > nDocs/2 and takes the dense path).
    *  - Bonuses add at most bMax, so no excluded doc scores above
    *    excludedUpper; when theta (the P-th candidate's bonused score)
    *    exceeds it, the candidates' top P is the dense top P.
    * "Exhausted" (`Round.allShort`): every shard returned fewer than M
    * rows. The round then holds every matching doc and its row, so a
    * larger M merges further from the same lists and runs no job.
    * The dense fallback (None) is the reference-exact plan.
    */
  private def boundedPool(ctx: Scoring.QueryBonusContext, query: String,
                          bm25Query: String,
                          bmTokens: IndexedSeq[String], poolSize: Int,
                          cfg: PipelineConfig): Option[IndexedSeq[(ChunkRow, Double)]] = {
    val bMax = maxBonus(query, cfg)
    // Cost-based shortcut: when the query terms' posting lists cover most
    // of the corpus (head-term queries), WAND has nothing to prune and the
    // flat score distribution rarely proves the bound — the dense
    // reference pass IS the cheaper plan. At web scale such queries are
    // served by WAND top-k directly (Wand.topK), not by the reference's
    // bonus-over-all-chunks semantics.
    val dfSum = dfFor(bmTokens.distinct).values.sum
    if (dfSum > stats.nDocs / 2) return None
    // float-noise slack: WAND's per-doc sum can differ from the exact
    // sequential base by ~ulps for repeated query tokens
    val slack = 1e-6
    var m = math.max(4 * poolSize, poolSize + 200)
    val mCap = 64 * poolSize
    // WAND's candidate order is a deterministic total order, so top-4m is
    // a superset of top-m: across retry rounds only the NEW candidates need
    // the fetch + exact re-score (the tasks skip ids already fetched) and
    // the driver bonus pass (the difflib fuzzy term dominates); previous
    // rounds' scores are exact and reusable.
    val fetched = scala.collection.mutable.HashMap.empty[Long, Wand.Fetched]
    val scored = scala.collection.mutable.HashMap.empty[Long, (ChunkRow, Double)]
    var round: Wand.Round = null
    while (m <= mCap) {
      if (round == null || !round.allShort) {
        round = Wand.round(spark, paths, stats, bm25Query, m, idfFor, Some(fetched.keySet.toSet))
        round.rows.foreach(f => fetched(f.row.chunkId) = f)
      }
      val cand = round.merged.take(m)
      if (cand.isEmpty) return None
      val complete = cand.length < m // every matching doc is a candidate
      scoreCandidates(ctx, cand.map(_._1).filterNot(scored.contains).flatMap(fetched.get))
        .foreach(cs => scored(cs._1.chunkId) = cs)
      val pool = cand.iterator.flatMap(c => scored.get(c._1)).toIndexedSeq
        .sorted(SparkBackend.PoolOrder)
      if (pool.length >= poolSize) {
        val theta = pool(poolSize - 1)._2
        val excludedUpper = (if (complete) 0.0 else cand.last._2) + bMax + slack
        if (excludedUpper < theta) return Some(pool.take(poolSize))
        // Cost-based futility cut (parity-safe: the dense fallback is the
        // reference-exact plan, this only skips retries that rarely pay):
        // excluded docs always have base >= 0, so the bound can never hold
        // until theta exceeds bMax. If the P-th candidate's bonused score
        // is still below bMax after a full round, two more 4x WAND +
        // re-score rounds are unlikely to lift theta past it — serve dense
        // now instead of paying both paths.
        if (!complete && theta <= bMax + slack) return None
      }
      if (complete) return None // growing m cannot add candidates
      m *= 4
    }
    None
  }

  /** Bonus-score fetched candidates in parallel on the driver (pure
    * function per row; the difflib fuzzy pass dominates for long queries);
    * callers sort by the pool's deterministic order.
    */
  private def scoreCandidates(ctx: Scoring.QueryBonusContext,
                              fetched: Seq[Wand.Fetched]): IndexedSeq[(ChunkRow, Double)] = {
    val rows = fetched.toIndexedSeq
    val out = new Array[(ChunkRow, Double)](rows.length)
    java.util.stream.IntStream.range(0, rows.length).parallel().forEach { i =>
      val Wand.Fetched(c, base, (pb, mb, gib)) = rows(i)
      out(i) = (c, ctx.score(base, c.text, pb, mb, gib))
    }
    out.toIndexedSeq
  }

  /** Rows of arbitrary ids (ANN candidates), each with its exact base for
    * `tokens`: one Spark job, one task per doc shard the ids fall in, each
    * reading only its own `cbucket=shard` directories.
    */
  private def fetchRows(ids: Seq[Long], tokens: IndexedSeq[String]): Seq[Wand.Fetched] = {
    val byShard = ids.distinct.groupBy(IndexBuilder.chunkBucket(_, stats.nDocShards))
      .map { case (s, xs) => s -> xs.toSet }
    if (byShard.isEmpty) return Nil
    val shards = byShard.keys.toSeq.sorted
    val conf = SessionMemo.hadoopConf(spark)
    val root = paths.chunks
    val st = bm25StatsFor(tokens)
    spark.sparkContext.parallelize(shards, shards.length).flatMap { s =>
      Wand.fetchShard(conf.value.value, root, s, byShard(s), tokens, st)._1
    }.collect().toSeq
  }

  /** The corpus's top `k` chunks under `score` (of a row and its static
    * bonuses), in the pool order: one Spark job with one task per doc
    * shard. Each task streams every row of its own `cbucket=shard`
    * directories (each `ubucket=u/cbucket=shard` in a url-bucketed index)
    * and keeps a k-row heap, so it holds O(k) rows; the driver merges the
    * at most k × shards rows.
    */
  private def topChunks(k: Int)(score: BlockFiles.ChunkWithStatics => Double)
      : IndexedSeq[(ChunkRow, Double)] = {
    val conf = SessionMemo.hadoopConf(spark)
    val root = paths.chunks
    val n = stats.nDocShards
    val perShard = spark.sparkContext.parallelize(0 until n, n).map { s =>
      val top = new SparkBackend.TopK(k)
      BlockFiles.readChunks(conf.value.value, root, s, None)(r => top.offer((r._1, score(r))))
      top.rows
    }.collect()
    SparkBackend.merge(k, perShard)
  }

  /** Reference-exact dense pass (`topChunks`): base BM25 plus bonuses on
    * every chunk, each scoring its own text with the bounded path's
    * re-score kernel, so bounded == dense holds by construction.
    */
  private def densePool(ctx: Scoring.QueryBonusContext,
                        bmTokens: IndexedSeq[String],
                        poolSize: Int): IndexedSeq[(ChunkRow, Double)] = {
    val st = bm25StatsFor(bmTokens)
    topChunks(poolSize) { case (c, (pb, mb, gib)) =>
      ctx.score(st.scoreText(bmTokens, c.text), c.text, pb, mb, gib)
    }
  }

  /** Bonused baseline scores for arbitrary ids (ANN semantic candidates),
    * input order preserved; unknown ids dropped.
    */
  override def bonusedScoresFor(query: String, bm25Query: String, ids: Seq[Long],
                                cfg: PipelineConfig): IndexedSeq[(ChunkRow, Double)] = {
    val (ctx, bmTokens) = queryContext(query, bm25Query, cfg)
    val byId = scoreCandidates(ctx, fetchRows(ids, bmTokens))
      .map(cs => cs._1.chunkId -> cs).toMap
    ids.flatMap(byId.get).toIndexedSeq
  }

  /** Driver-side exact re-scoring of pool chunks (pool <= 200; Pipeline's
    * re-ranking runs). */
  override def bm25ScoresFor(queryTokens: Seq[String], chunks: Seq[ChunkRow]): Map[Long, Double] = {
    val st = bm25StatsFor(queryTokens)
    chunks.map(c => c.chunkId -> st.scoreText(queryTokens, c.text)).toMap
  }

  /** RM3 feedback: the top fbDocs of the dense base-BM25 array (prf.py:29)
    * in the dense pool's job shape (`topChunks`), same kernel. Every chunk
    * is ranked in the pool order, so zero-score chunks fill in corpus
    * order and, under a negative idf floor, rank above the negatively
    * scored matches, as in the reference.
    */
  override def topDocsForRm3(queryTokens: Seq[String], fbDocs: Int): Seq[String] = {
    val toks = queryTokens.toIndexedSeq
    val st = bm25StatsFor(toks)
    topChunks(fbDocs)(r => st.scoreText(toks, r._1.text)).map(_._1.text)
  }
}

object SparkBackend {
  /** The pool order, best first: score descending, then corpus order
    * (source, page, chunkIdx) ascending. It is Catalyst's `orderBy(desc(score),
    * asc(source), asc(page), asc(chunkIdx))`: 0.0 and -0.0 tie, NaN ranks
    * first, a null source first and sources compare as UTF-8 bytes.
    */
  private[graft] val PoolOrder: Ordering[(ChunkRow, Double)] = {
    val corpus = Ordering.by((c: ChunkRow) =>
      (Option(c.source).map(UTF8String.fromString), c.page, c.chunkIdx))
    (x, y) => {
      val byScore = if (x._2 == y._2) 0 else java.lang.Double.compare(y._2, x._2)
      if (byScore != 0) byScore else corpus.compare(x._1, y._1)
    }
  }

  /** The best `k` rows offered; the heap's head is the worst row kept. */
  private[graft] final class TopK(k: Int) {
    private val heap = scala.collection.mutable.PriorityQueue.empty(PoolOrder)
    def offer(r: (ChunkRow, Double)): Unit =
      if (heap.size < k) heap.enqueue(r)
      else if (k > 0 && PoolOrder.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r) }
    def rows: Seq[(ChunkRow, Double)] = heap.toList
  }

  /** The global top `k` of per-shard top-k lists, in the pool order. */
  private[graft] def merge(k: Int, shards: Seq[Seq[(ChunkRow, Double)]]): IndexedSeq[(ChunkRow, Double)] =
    shards.flatten.sorted(PoolOrder).take(k).toIndexedSeq
}
