package graft.query

import scala.collection.mutable
import graft.analysis.Analyzer

/** BM25 statistics + Okapi scoring, reference-exact.
  *
  * Formulas follow the public rank_bm25 BM25Okapi (v0.2.2) the reference
  * instantiates at index.py:66:
  *   idf(t)    = ln(N - df + 0.5) - ln(df + 0.5)
  *   flooring  : terms with idf < 0 get eps = epsilon * mean(idf over vocab)
  *               (mean computed over the RAW idfs, before flooring)
  *   score(d)  = Σ_{q in query tokens, with multiplicity}
  *                 idf(q) * tf(q,d)*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
  * Defaults k1=1.4, b=0.75 per reference config.py:28-29.
  */
final case class Bm25Stats(
    nDocs: Long,
    avgdl: Double,
    idf: Map[String, Double],
    k1: Double = 1.4,
    b: Double = 0.75) {

  /** Score one document given its term-frequency map and length.
    * Sums query tokens in order (with multiplicity) for float-exactness
    * vs the sequential reference.
    */
  def score(queryTokens: Seq[String], tf: collection.Map[String, Int], dl: Long): Double = {
    var s = 0.0
    val norm = k1 * (1 - b + b * dl / avgdl)
    for (q <- queryTokens) {
      val f = tf.getOrElse(q, 0)
      val w = idf.getOrElse(q, 0.0)
      if (f != 0 && w != 0.0) s += w * (f * (k1 + 1)) / (f + norm)
    }
    s
  }

  /** Score one raw chunk text: the dense-pass and re-score kernel. It
    * counts only the query's terms; the others never reach `score`, so the
    * doubles equal those of the full `Bm25.termFreqs` map.
    */
  def scoreText(queryTokens: Seq[String], text: String): Double = {
    val toks = Analyzer.tokenize(text)
    val tf = mutable.HashMap.empty[String, Int]
    toks.foreach(t => if (queryTokens.contains(t)) tf(t) = tf.getOrElse(t, 0) + 1)
    score(queryTokens, tf, toks.length.toLong)
  }
}

object Bm25 {

  /** Raw idf before flooring. */
  @inline def rawIdf(n: Long, df: Long): Double =
    math.log(n - df + 0.5) - math.log(df + 0.5)

  /** Build stats from (term -> df) with the negative-IDF floor. */
  def statsFromDf(nDocs: Long, avgdl: Double, df: collection.Map[String, Long],
                  k1: Double = 1.4, b: Double = 0.75, epsilon: Double = 0.25): Bm25Stats = {
    var idfSum = 0.0
    val raw = mutable.HashMap.empty[String, Double]
    df.foreach { case (t, f) =>
      val v = rawIdf(nDocs, f)
      raw(t) = v
      idfSum += v
    }
    val averageIdf = if (raw.nonEmpty) idfSum / raw.size else 0.0
    val eps = epsilon * averageIdf
    Bm25Stats(nDocs, avgdl, raw.iterator.map { case (t, v) =>
      t -> (if (v < 0) eps else v)
    }.toMap, k1, b)
  }

  /** In-memory build over a tokenized corpus (driver-side / oracle path). */
  def buildLocal(tokenized: IndexedSeq[Array[String]], k1: Double = 1.4,
                 b: Double = 0.75, epsilon: Double = 0.25): Bm25Stats = {
    val df = mutable.HashMap.empty[String, Long]
    var totalLen = 0L
    tokenized.foreach { toks =>
      totalLen += toks.length
      toks.toSet[String].foreach(t => df(t) = df.getOrElse(t, 0L) + 1L)
    }
    val n = tokenized.length.toLong
    val avgdl = if (n > 0) totalLen.toDouble / n else 0.0
    statsFromDf(n, avgdl, df, k1, b, epsilon)
  }

  def termFreqs(tokens: Array[String]): mutable.HashMap[String, Int] = {
    val m = mutable.HashMap.empty[String, Int]
    tokens.foreach(t => m(t) = m.getOrElse(t, 0) + 1)
    m
  }

  /** Dense scores over a local tokenized corpus (oracle path, mirrors
    * bm25.get_scores at main.py:135 — every chunk gets a score).
    */
  def scoresLocal(stats: Bm25Stats, queryTokens: Seq[String],
                  tokenized: IndexedSeq[Array[String]]): Array[Double] = {
    val tfs = tokenized.map(termFreqs)
    Array.tabulate(tokenized.length)(i =>
      stats.score(queryTokens, tfs(i), tokenized(i).length.toLong))
  }
}
