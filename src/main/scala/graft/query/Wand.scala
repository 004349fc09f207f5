package graft.query

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import graft.analysis.Analyzer
import graft.corpus.ChunkRow
import graft.index.{BlockFiles, BlockRow, Codec, GlobalStats, IndexBuilder, IndexPaths}
import graft.spark.SessionMemo

/** Block-max WAND top-k over the compressed posting blocks (north star:
  * "query-time top-k BM25 scoring uses block-max WAND posting-list
  * intersection implemented as typed Dataset operators").
  *
  * Parallelism model: posting lists are sharded by doc hash at build time
  * (`BlockRow.shard`, directory `blocks/bucket=b/shard=s`), so WAND runs
  * independently per shard. `topK` is one Spark job with one task per doc
  * shard and no shuffle: each task lists and reads its own shard's
  * directories of the live query terms' buckets (`BlockFiles.readShard`),
  * runs `wandShard` and returns its top-k, so the driver merges k*nShards
  * rows and no Dataset is planned per call. On the bounded pool path
  * (`round` with `fetch`) the same task also reads its candidates' chunk
  * rows and re-scores them exactly, so a pool round is this one job. No
  * full head-term posting list is ever materialized on one executor. This
  * replaces a Dataset
  * `groupByKey(shard).mapGroups`: it paid Catalyst planning and an AQE
  * re-plan per call, and AQE coalesced the shard groups into one task, so
  * the shards ran serially.
  *
  * Exactness: candidate docs are fully scored by iterating query terms in
  * token order (float-identical to the sequential reference); the WAND
  * upper bound only skips provably sub-threshold docs, and block-level
  * `lastDoc` metadata lets `advanceTo` skip whole compressed blocks.
  */
object Wand {

  private final class Cursor(val weight: Double, blocks: IndexedSeq[BlockRow],
                             k1: Double, b: Double, avgdl: Double,
                             boundScale: Double) {
    // A term with negative weight (the BM25Okapi negative-eps floor on a
    // stopword-dense corpus) can only lower a doc's score; its valid upper
    // bound for pivot pruning is 0, not weight*maxTfNorm. boundScale
    // (>= 1) covers blocks whose maxTfNorm was computed under an older,
    // smaller avgdl after an incremental update: tf-norms grow with avgdl
    // by at most avgdl_now/avgdl_then, so scaling keeps the bound valid
    // (see GlobalStats.minBlockAvgdl). Exactness is unaffected — bounds
    // only gate pruning, contributions use the raw tf/dl.
    val termUpperBound: Double =
      math.max(0.0, weight * blocks.iterator.map(_.maxTfNorm).max * boundScale)
    private var bi = 0
    private var di = 0
    private var docs: Array[Long] = _
    private var tfs: Array[Long] = _
    private var dls: Array[Long] = _
    loadBlock()

    private def loadBlock(): Unit = {
      if (bi < blocks.length) {
        val blk = blocks(bi)
        docs = Codec.decode(blk.docs, blk.n, deltas = true)
        tfs = Codec.decode(blk.tfs, blk.n, deltas = false)
        dls = Codec.decode(blk.dls, blk.n, deltas = false)
        di = 0
      } else { docs = null }
    }

    def exhausted: Boolean = docs == null
    def currentDoc: Long = docs(di)
    def contribution: Double = {
      val tf = tfs(di).toDouble
      val dl = dls(di).toDouble
      weight * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
    }

    def next(): Unit = {
      di += 1
      if (di >= docs.length) { bi += 1; loadBlock() }
    }

    /** First doc >= target, skipping whole blocks via lastDoc metadata. */
    def advanceTo(target: Long): Unit = {
      while (!exhausted && blocks(bi).lastDoc < target) { bi += 1; loadBlock() }
      if (!exhausted) {
        var lo = di
        var hi = docs.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (docs(mid) < target) lo = mid + 1 else hi = mid
        }
        di = lo
        if (di >= docs.length) { bi += 1; loadBlock() }
      }
    }
  }

  /** Plain-WAND with term upper bounds over one shard. `termOrder` is the
    * distinct query terms in first-seen token order; full scoring iterates
    * that order. Ties on score keep the lower docId.
    */
  def wandShard(blocksByTerm: Map[String, IndexedSeq[BlockRow]],
                termOrder: IndexedSeq[String], termWeights: Map[String, Double],
                k: Int, k1: Double, b: Double, avgdl: Double,
                boundScale: Double = 1.0): Seq[(Long, Double)] = {
    val cursors: Array[Cursor] = termOrder.iterator
      .filter(t => blocksByTerm.contains(t) && termWeights.getOrElse(t, 0.0) != 0.0)
      .map(t => new Cursor(termWeights(t),
        blocksByTerm(t).sortBy(_.blockId), k1, b, avgdl, boundScale))
      .filter(!_.exhausted)
      .toArray
    if (cursors.isEmpty || k <= 0) return Nil

    // min-heap of (docId, score): ordering by (score asc, docId desc) so the
    // head is the entry to evict (lowest score; among ties, highest docId).
    val ord: Ordering[(Long, Double)] =
      Ordering.by[(Long, Double), (Double, Long)] { case (d, s) => (-s, d) }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord)
    def theta: Double = if (heap.size < k) Double.NegativeInfinity else heap.head._2

    var done = false
    while (!done) {
      val live = cursors.filter(!_.exhausted)
      if (live.isEmpty) done = true
      else {
        val sorted = live.sortBy(_.currentDoc)
        var acc = 0.0
        var p = -1
        var i = 0
        val th = theta
        while (i < sorted.length && p < 0) {
          acc += sorted(i).termUpperBound
          if (acc > th) p = i
          i += 1
        }
        if (p < 0) done = true
        else {
          val pivotDoc = sorted(p).currentDoc
          if (sorted(0).currentDoc == pivotDoc) {
            var s = 0.0
            var j = 0
            while (j < cursors.length) { // term order = query order (exact sum)
              val c = cursors(j)
              if (!c.exhausted && c.currentDoc == pivotDoc) s += c.contribution
              j += 1
            }
            var j2 = 0
            while (j2 < cursors.length) {
              val c = cursors(j2)
              if (!c.exhausted && c.currentDoc == pivotDoc) c.next()
              j2 += 1
            }
            if (heap.size < k) heap.enqueue((pivotDoc, s))
            else {
              val (hd, hs) = heap.head
              if (s > hs || (s == hs && pivotDoc < hd)) {
                heap.dequeue(); heap.enqueue((pivotDoc, s))
              }
            }
          } else {
            var j = 0
            var advanced = false
            while (j < p && !advanced) {
              if (sorted(j).currentDoc < pivotDoc) {
                sorted(j).advanceTo(pivotDoc); advanced = true
              }
              j += 1
            }
            if (!advanced) sorted(p).next()
          }
        }
      }
    }
    heap.dequeueAll.reverse.toSeq // best first
  }

  /** Distributed top-k: one Spark job, one WAND task per doc shard, merged
    * on the driver.
    */
  def topK(spark: SparkSession, paths: IndexPaths, stats: GlobalStats,
           query: String, k: Int,
           idfFor: Seq[String] => Map[String, Double]): Seq[(Long, Double)] =
    round(spark, paths, stats, query, k, idfFor, fetch = None).merged.take(k)

  /** A candidate chunk fetched in its shard's task: the row, its exact base
    * BM25 (`Bm25Stats.scoreText`, the dense pass's kernel) and its static
    * bonuses (pattern, meta, gib).
    */
  private[graft] final case class Fetched(row: ChunkRow, base: Double, statics: (Double, Double, Double))

  /** One WAND job. `merged` is every shard's top-k, best first (up to
    * k × shards rows; its first k are the global top-k). `allShort`: every
    * shard returned fewer than k rows, so `merged` holds every doc with a
    * live query term and a larger k returns the same list. `rows` are the
    * fetched candidates, and `opened` the files each shard's task opened
    * (shard, path, bytes).
    */
  private[graft] final case class Round(merged: Seq[(Long, Double)], allShort: Boolean,
                                        rows: Seq[Fetched], opened: Seq[(Int, String, Long)])

  /** The WAND job behind `topK`. With `fetch = Some(known)`, each shard's
    * task also reads the chunk rows of its own top-k candidates that are
    * not in `known`, and re-scores them exactly. The chunk table has one
    * cbucket per doc shard and `shard = chunkBucket(chunkId, nShards)`, so
    * those rows sit in the task's own `cbucket=shard` directories.
    */
  private[graft] def round(spark: SparkSession, paths: IndexPaths, stats: GlobalStats,
                           query: String, k: Int,
                           idfFor: Seq[String] => Map[String, Double],
                           fetch: Option[Set[Long]]): Round = {
    val none = Round(Nil, allShort = true, Nil, Nil)
    val tokens = Analyzer.tokenize(query).toIndexedSeq
    if (tokens.isEmpty) return none
    val termOrder = tokens.distinct
    val mult = tokens.groupBy(identity).map { case (t, xs) => t -> xs.length }
    val idf = idfFor(termOrder)
    val weights = termOrder.map(t => t -> mult(t) * idf(t)).toMap
    val liveTerms = termOrder.filter(weights(_) != 0.0)
    if (liveTerms.isEmpty) return none
    val k1 = stats.k1; val b = stats.b; val avgdl = stats.avgdl
    // blocks written before an incremental avgdl re-fit carry maxTfNorm
    // under the old (possibly smaller) avgdl — scale bounds to stay valid
    val boundScale =
      if (stats.minBlockAvgdl > 0) math.max(1.0, avgdl / stats.minBlockAvgdl) else 1.0
    val buckets = liveTerms.map(IndexBuilder.termBucket(_, stats.nTermBuckets)).distinct
    val blocksRoot = paths.blocks
    val chunksRoot = paths.chunks
    val rescore = Bm25Stats(stats.nDocs, avgdl, idf, k1, b)
    val conf = SessionMemo.hadoopConf(spark)
    val perShard = spark.sparkContext.parallelize(0 until stats.nDocShards, stats.nDocShards)
      .map { shard =>
        val c = conf.value.value
        val (blocks, openedBlocks) = BlockFiles.readShard(c, blocksRoot, shard, buckets, liveTerms)
        val top = wandShard(blocks, termOrder, weights, k, k1, b, avgdl, boundScale)
        val (rows, openedChunks) = fetch match {
          case Some(known) => fetchShard(c, chunksRoot, shard,
            top.iterator.map(_._1).filterNot(known).toSet, tokens, rescore)
          case None => (Nil, Nil)
        }
        (top, rows, (openedBlocks ++ openedChunks).map { case (f, n) => (shard, f, n) })
      }.collect()
    Round(perShard.iterator.flatMap(_._1).toSeq.sortBy { case (doc, s) => (-s, doc) },
      perShard.forall(_._1.length < k), perShard.toSeq.flatMap(_._2),
      perShard.toSeq.flatMap(_._3))
  }

  /** Task side: the rows of `ids` in chunk bucket `shard`, each with its
    * exact base for `tokens`.
    */
  private[query] def fetchShard(conf: Configuration, chunksRoot: String, shard: Int,
                                ids: Set[Long], tokens: IndexedSeq[String], st: Bm25Stats)
      : (Seq[Fetched], Seq[(String, Long)]) = {
    val (rows, opened) = BlockFiles.readChunks(conf, chunksRoot, shard, ids)
    (rows.map { case (c, statics) => Fetched(c, st.scoreText(tokens, c.text), statics) }, opened)
  }
}
