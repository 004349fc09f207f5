package graft.query

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.analysis.Analyzer
import graft.index.{BlockRow, Codec, GlobalStats, IndexBuilder, IndexPaths}

/** Block-max WAND top-k over the compressed posting blocks (north star:
  * "query-time top-k BM25 scoring uses block-max WAND posting-list
  * intersection implemented as typed Dataset operators").
  *
  * Parallelism model: posting lists are sharded by doc hash at build time
  * (`BlockRow.shard`), so WAND runs independently per shard — one typed
  * `mapGroups` task per shard — and the per-shard top-k merge on the driver
  * is k*nShards rows. At cluster scale each shard is one task; no full
  * head-term posting list is ever materialized on one executor.
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

  /** Block-table schema, fixed by `BlockRow`: reading with it skips the
    * footer-read schema-inference job a schema-less read runs per call.
    * `bucket` and `shard` are partition columns, parsed from the directory
    * names.
    */
  private lazy val blockSchema: StructType = Encoders.product[BlockRow].schema

  /** The blocks of `liveTerms`, read from their buckets' `bucket=b`
    * directories only (`basePath` keeps `bucket` and `shard` as columns),
    * with the term filter pushed down into those files. A missing bucket
    * directory holds no blocks and is skipped; None when all are missing.
    */
  private[graft] def blockScan(spark: SparkSession, paths: IndexPaths, nTermBuckets: Int,
                               liveTerms: Seq[String]): Option[Dataset[BlockRow]] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val bucketDirs = liveTerms.map(IndexBuilder.termBucket(_, nTermBuckets)).distinct
      .map(b => new org.apache.hadoop.fs.Path(s"${paths.blocks}/bucket=$b"))
      .filter(d => d.getFileSystem(conf).exists(d)).map(_.toString)
    if (bucketDirs.isEmpty) None
    else Some(spark.read.schema(blockSchema).option("basePath", paths.blocks)
      .parquet(bucketDirs: _*)
      .filter(col("term").isin(liveTerms: _*))
      .as[BlockRow])
  }

  /** Distributed top-k: one WAND task per doc shard, merged on the driver.
    * Each call lists and reads only the live query terms' bucket
    * directories (`blockScan`), with the schema taken from `BlockRow`, so
    * it runs just the two jobs of the per-shard shuffle.
    */
  def topK(spark: SparkSession, paths: IndexPaths, stats: GlobalStats,
           query: String, k: Int,
           idfFor: Seq[String] => Map[String, Double]): Seq[(Long, Double)] = {
    import spark.implicits._
    val tokens = Analyzer.tokenize(query).toIndexedSeq
    if (tokens.isEmpty) return Nil
    val termOrder = tokens.distinct
    val mult = tokens.groupBy(identity).map { case (t, xs) => t -> xs.length }
    val idf = idfFor(termOrder)
    val weights = termOrder.map(t => t -> mult(t) * idf(t)).toMap
    val liveTerms = termOrder.filter(weights(_) != 0.0)
    if (liveTerms.isEmpty) return Nil
    val k1 = stats.k1; val b = stats.b; val avgdl = stats.avgdl
    // blocks written before an incremental avgdl re-fit carry maxTfNorm
    // under the old (possibly smaller) avgdl — scale bounds to stay valid
    val boundScale =
      if (stats.minBlockAvgdl > 0) math.max(1.0, avgdl / stats.minBlockAvgdl) else 1.0

    val blocks = blockScan(spark, paths, stats.nTermBuckets, liveTerms) match {
      case Some(ds) => ds
      case None => return Nil
    }
    val perShard = blocks.groupByKey(_.shard).mapGroups { (_, it) =>
      // Single streaming pass over the group: group blocks by term as they
      // arrive instead of it.toIndexedSeq + groupBy (which held two copies
      // of every block row of the shard in one heap). Per-shard memory is
      // additionally bounded at build time: nDocShards auto-scales so a
      // shard never exceeds ~250k docs (BuildConfig.resolveDocShards).
      val byTerm = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[BlockRow]]
      it.foreach { r =>
        byTerm.getOrElseUpdate(r.term,
          scala.collection.mutable.ArrayBuffer.empty[BlockRow]) += r
      }
      wandShard(byTerm.view.mapValues(_.toIndexedSeq).toMap,
        termOrder, weights, k, k1, b, avgdl, boundScale)
    }.collect()

    perShard.iterator.flatten.toSeq
      .sortBy { case (doc, s) => (-s, doc) }
      .take(k)
  }
}
