package graft.query

import scala.collection.mutable
import graft.analysis.Analyzer
import graft.corpus.{ChunkRow, Confidence, ResultRow, SourceRef}

/** Engine-wide query configuration — defaults mirror the reference's
  * config.py:12-151 default tree.
  */
case class PipelineConfig(
    k: Int = 8,
    poolSize: Int = 200,
    k1: Double = 1.4,
    b: Double = 0.75,
    proxWindow: Int = 24,
    proxLambda: Double = 0.2,
    ngramLambda: Double = 0.1,
    prfEnabled: Boolean = false,
    fbDocs: Int = 6,
    fbTerms: Int = 10,
    /** caller-supplied HyDE-style query variants (reference main.py:298-318;
      * generation is external to the engine) — each adds a ranking run */
    hydeVariants: Seq[String] = Nil,
    semanticEnabled: Boolean = false,
    semanticTopn: Int = 80,
    /** ANN preselect over the WHOLE corpus before the semantic rerank
      * (reference semantic_index.py:110-153 via fusion.py:171-185) —
      * requires an [[AnnPreselector]] passed to searchTopK. */
    annEnabled: Boolean = false,
    annTopn: Int = 80,
    heuristicEnabled: Boolean = true,
    heuristicTopn: Int = 150,
    heuristicAlpha: Double = 0.6,
    heuristicBeta: Double = 0.3,
    heuristicGamma: Double = 0.1,
    robustEnabled: Boolean = true,
    rrfEnabled: Boolean = true,
    rrfC: Int = 75,
    rrfCap: Int = 200,
    diversityEnabled: Boolean = true,
    perDocPenalty: Double = 0.3,
    maxPerDoc: Int = 2,
    mmrEnabled: Boolean = true,
    mmrLambda: Double = 0.7,
    maxSnippetChars: Int = 900,
    includeScores: Boolean = true,
    includePandoc: Boolean = true,
    pandocPrimary: Boolean = true,
    deterministicSort: Boolean = true,
    /** force the reference-exact dense bonus pass over every chunk instead
      * of the rank-safe bounded WAND-superset pool (SURVEY §7.4); the
      * bounded path falls back to dense automatically whenever its safety
      * bound cannot be proven, so this is a test/debug escape hatch. Both
      * paths score with the same kernel (Bm25Stats.scoreText).
      */
    densePoolOnly: Boolean = false,
    /** Serve head-term queries (sum(df) > nDocs/2 — stopword-ish, where the
      * posting lists cover most of the corpus) straight from WAND top-k
      * instead of the reference-exact dense bonus pass over every chunk.
      * Off by default: the dense pass IS the reference semantics. With it
      * on, the pool candidates come from base-BM25 WAND and are then
      * exactly re-scored with bonuses, so only the candidate SELECTION can
      * deviate: an excluded chunk out-ranks a pool member by at most the
      * corpus-global additive bonus ceiling (SparkBackend.maxBonus — ≤
      * proxλ + ngramλ + maxStaticBonus (+2.0 for fuzzy-active queries));
      * the rank deviation is bounded by that same quantity relative to the
      * base-score gaps. At 10^12 chunks this turns a per-query full-corpus
      * job into a blocks-table-only read.
      */
    headTermWand: Boolean = false)

/** Abstraction over where the heavy scans run. The distributed engine
  * implements this with Spark jobs (per-shard top-k pool and RM3 feedback
  * tasks, merged on the driver); tests use an in-memory backend. Everything *after*
  * the ≤poolSize candidate pool is inherently sequential in the reference
  * (greedy selection, RRF dict-order semantics) and runs driver-side —
  * SURVEY.md §2.8.
  */
trait SearchBackend {
  /** Top-poolSize chunks by bonused score (reference main.py:133-174),
    * ordered best-first with ties by ascending deterministic chunk order.
    */
  def topPool(query: String, bm25Query: String, poolSize: Int,
              cfg: PipelineConfig): IndexedSeq[(ChunkRow, Double)]

  /** Plain BM25 scores for the given token list over the given chunks. */
  def bm25ScoresFor(queryTokens: Seq[String], chunks: Seq[ChunkRow]): Map[Long, Double]

  /** Texts of the global top-fbDocs chunks by plain BM25 (RM3 feedback,
    * reference prf.py:29), rank order, ties by ascending chunk order.
    */
  def topDocsForRm3(queryTokens: Seq[String], fbDocs: Int): Seq[String]

  /** Bonused baseline scores for arbitrary chunk ids in input order —
    * the `baseline_scores[i]` lookups the reference performs for
    * ANN-preselected semantic candidates that may lie outside the pool
    * (fusion.py:183-185). Unknown ids are dropped.
    */
  def bonusedScoresFor(query: String, bm25Query: String, ids: Seq[Long],
                       cfg: PipelineConfig): IndexedSeq[(ChunkRow, Double)]
}

/** Whole-corpus approximate-nearest-neighbor preselect seam (reference
  * semantic_index.py ann_select_candidates). Implementations:
  * [[BruteForceAnn]] (exact baseline), [[SparkAnnLsh]] (the scale path).
  */
trait AnnPreselector extends Serializable {
  /** Top-n chunkIds by embedding similarity over the whole corpus,
    * best-first; empty when embeddings are unavailable.
    */
  def preselect(query: String, topn: Int): Seq[Long]
}

case class SearchOutput(results: List[ResultRow], confidence: Confidence,
                        pool: IndexedSeq[Long], runs: List[List[Long]],
                        fused: List[Long], selected: List[Long],
                        rm3Expanded: Option[String])

object Pipeline {
  import Analyzer.lower

  /** fusion.py:12-28 rrf_fuse — dict insertion order preserved for ties. */
  def rrfFuse(runs: Seq[Seq[Long]], c: Int = 60, cap: Int = 200): List[Long] = {
    val score = mutable.LinkedHashMap.empty[Long, Double]
    for (run <- runs; (idx, rank0) <- run.take(cap).zipWithIndex) {
      val rank = rank0 + 1
      score(idx) = score.getOrElse(idx, 0.0) + 1.0 / (c + rank)
    }
    score.toList.sortBy { case (_, s) => -s }.map(_._1)
  }

  /** prf.py:12-43 rm3_expand_query. Feedback doc texts are supplied by the
    * backend (global top-fbDocs by BM25); Counter.most_common tie order =
    * first-seen insertion order, replicated via LinkedHashMap.
    */
  def rm3Expand(query: String, feedbackTexts: Seq[String], fbTerms: Int): String = {
    val qTokens = Analyzer.tokenize(query)
    val qSet = qTokens.toSet
    val tf = mutable.LinkedHashMap.empty[String, Int]
    for (text <- feedbackTexts; t <- Analyzer.tokenize(text)
         if t.length >= 3 && !Analyzer.Stop.contains(t)) {
      tf(t) = tf.getOrElse(t, 0) + 1
    }
    val mostCommon = tf.toList.sortBy { case (_, n) => -n }.map(_._1)
    val fb = mostCommon.take(fbTerms).filterNot(qSet.contains)
    if (fb.isEmpty) query else query + " " + fb.mkString(" ")
  }

  /** rerank.py:33-41 idf_weight (heuristic rerank's own IDF — df map is
    * always absent at the call site, so defaults df=1, N=100000 apply).
    */
  def idfWeight(queryTerms: Seq[String], df: Map[String, Int] = Map.empty,
                n: Int = 100000, floor: Double = 1.5): mutable.LinkedHashMap[String, Double] = {
    val w = mutable.LinkedHashMap.empty[String, Double]
    for (term <- queryTerms) {
      val dfT = math.max(1, df.getOrElse(term, 1))
      w(term) = math.max(floor, math.log((n - dfT + 0.5) / (dfT + 0.5)))
    }
    w
  }

  /** rerank.py:44-49 coverage_score. */
  def coverageScore(queryTerms: Seq[String], docTerms: Seq[String],
                    idf: collection.Map[String, Double]): Double = {
    val present = queryTerms.toSet.intersect(docTerms.toSet)
    if (present.isEmpty) 0.0
    else present.iterator.map(idf).sum / (idf.values.sum + 1e-9)
  }

  /** rerank.py:52-75 proximity_score (min span over term pairs). */
  def proximityScoreRerank(queryTerms: Seq[String], docTerms: Seq[String],
                           window: Int = 20): Double = {
    val positions = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    docTerms.zipWithIndex.foreach { case (t, i) =>
      positions.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += i
    }
    val hits = queryTerms.filter(t => positions.get(t).exists(_.nonEmpty))
    if (hits.length < 2) return 0.0
    var bestSpan: Option[Int] = None
    for (i <- hits.indices; t2 <- hits.drop(i + 1); p1 <- positions(hits(i))) {
      // closest p2 to p1 — python min() keeps the first minimal element
      val p2 = positions(t2).minBy(x => math.abs(x - p1))
      val span = math.abs(p2 - p1) + 1
      if (bestSpan.forall(span < _)) bestSpan = Some(span)
    }
    bestSpan.map(s => math.max(0.0, (window - s).toDouble / window)).getOrElse(0.0)
  }

  /** rerank.py:78-89 phrase_boost. */
  def phraseBoost(query: String, docText: String): Double = {
    val q = Analyzer.tokenizeForRerank(query)
    val d = Analyzer.tokenizeForRerank(docText).mkString(" ")
    val bigrams = (0 until math.max(0, q.length - 1)).map(i => q.slice(i, i + 2).mkString(" "))
    math.min(1.0, 0.15 * bigrams.count(d.contains))
  }

  /** rerank.py:92-130 heuristic_rerank over (text, poolRank) candidates;
    * returns candidate chunkIds sorted by rerank score (stable).
    */
  def heuristicRerank(query: String, candidates: Seq[(Long, String)],
                      alpha: Double = 0.6, beta: Double = 0.3,
                      gamma: Double = 0.1): List[Long] = {
    val qTerms = Analyzer.tokenizeForRerank(query)
    if (qTerms.isEmpty) return candidates.map(_._1).toList
    val idf = idfWeight(qTerms.toIndexedSeq)
    val scored = candidates.map { case (id, text) =>
      val dTerms = Analyzer.tokenizeForRerank(text)
      val cov = coverageScore(qTerms.toIndexedSeq, dTerms.toIndexedSeq, idf)
      val prox = proximityScoreRerank(qTerms.toIndexedSeq, dTerms.toIndexedSeq, window = 24)
      val phrase = phraseBoost(query, text)
      (id, alpha * cov + beta * prox + gamma * phrase)
    }
    scored.sortBy { case (_, s) => -s }.map(_._1).toList
  }

  /** fusion.py:212-277 fused_diversity_selection — greedy with per-doc cap. */
  def fusedDiversitySelection(fusedCandidates: List[Long], docIdOf: Long => Long,
                              baselineScores: Map[Long, Double], k: Int,
                              enabled: Boolean, perDocPenalty: Double,
                              maxPerDoc: Int): List[Long] = {
    if (!enabled) return fusedCandidates.take(k)
    val selected = mutable.ArrayBuffer.empty[Long]
    val perDoc = mutable.HashMap.empty[Long, Int]
    var candidates = fusedCandidates
    while (candidates.nonEmpty && selected.length < k) {
      var bestIdx: Option[Long] = None
      var bestVal = Double.NaN
      val searchWindow = candidates.take(math.max(5 * k, 200))
      for (i <- searchWindow) {
        val adjusted = baselineScores(i) - perDocPenalty *
          math.max(0, perDoc.getOrElse(docIdOf(i), 0))
        if (bestIdx.isEmpty || adjusted > bestVal) { bestVal = adjusted; bestIdx = Some(i) }
      }
      bestIdx match {
        case None => candidates = Nil
        case Some(best) =>
          selected += best
          val dk = docIdOf(best)
          perDoc(dk) = perDoc.getOrElse(dk, 0) + 1
          candidates =
            if (perDoc(dk) >= maxPerDoc) candidates.filter(docIdOf(_) != dk)
            else candidates.filter(_ != best)
      }
    }
    selected.toList
  }

  /** diversity.py:194-244 apply_diversity_selection — streaming variant:
    * per-doc penalty, skip past cap, re-sort by adjusted score (stable).
    */
  def applyDiversitySelection(results: Seq[(Long, Double)], docIdOf: Long => Long,
                              divLambda: Double = 0.3,
                              maxPerDoc: Int = 2): List[(Long, Double)] = {
    val counts = mutable.HashMap.empty[Long, Int]
    val out = mutable.ArrayBuffer.empty[(Long, Double)]
    for ((idx, score) <- results) {
      val d = docIdOf(idx)
      val c = counts.getOrElse(d, 0)
      if (c < maxPerDoc) {
        out += ((idx, score - c * divLambda))
        counts(d) = c + 1
      }
    }
    out.sortBy { case (_, s) => -s }.toList
  }

  /** diversity.py:101-191 mmr_selection (numpy path: token-overlap sims). */
  def mmrSelection(query: String, candidates: Seq[(Long, String, Double)],
                   lambdaParam: Double = 0.7, k: Int = 10): List[Long] = {
    if (candidates.isEmpty || k <= 0) return Nil
    if (candidates.length <= k) return candidates.map(_._1).toList
    val texts = candidates.map(_._2)
    val relevance = candidates.map(_._3)
    val indices = candidates.map(_._1)
    val queryTerms = Analyzer.tokenizeForRerank(query).toSet
    val docTerms = texts.map(t => Analyzer.tokenizeForRerank(t).toSet)
    val querySims = docTerms.map { terms =>
      if (terms.isEmpty) 0.0
      else {
        val overlap = queryTerms.intersect(terms).size
        overlap / (queryTerms.size + terms.size - overlap + 1e-9)
      }
    }
    val selected = mutable.ArrayBuffer.empty[Int]
    val remaining = mutable.ArrayBuffer.range(0, candidates.length)
    // python max() keeps the first maximal element in iteration order
    val best = { var bi = remaining.head; for (i <- remaining) if (relevance(i) > relevance(bi)) bi = i; bi }
    selected += best
    remaining -= best
    while (remaining.nonEmpty && selected.length < k) {
      var bestScore = Double.NegativeInfinity
      var bestI = -1
      for (i <- remaining) {
        val rel = lambdaParam * querySims(i)
        var maxSim = 0.0
        for (j <- selected) {
          val inter = docTerms(i).intersect(docTerms(j)).size
          val uni = docTerms(i).union(docTerms(j)).size
          val sim = inter / (uni + 1e-9)
          if (sim > maxSim) maxSim = sim
        }
        val mmr = rel - (1 - lambdaParam) * maxSim
        if (bestI < 0 || mmr > bestScore) { bestScore = mmr; bestI = i }
      }
      selected += bestI
      remaining -= bestI
    }
    selected.map(indices).toList
  }

  /** main.py:23-96 calibrate_confidence. */
  def calibrateConfidence(poolScores: IndexedSeq[Double], runs: Seq[Seq[Long]],
                          topK: Int = 8): Confidence = {
    if (poolScores.isEmpty)
      return Confidence("low", 0.0, 0.0, 0.0, Some("No results"))
    val topScore = poolScores.max
    val sortedDesc = poolScores.sortBy(-_)
    val median = sortedDesc(sortedDesc.length / 2)
    val spread = if (topScore > 0) (topScore - median) / (topScore + 1e-6) else 0.0
    val stability =
      if (runs.length < 2) 0.5
      else {
        val topSets = runs.map(_.take(topK).toSet)
        val inter = topSets.reduce(_ intersect _)
        val union = topSets.reduce(_ union _)
        if (union.nonEmpty) inter.size.toDouble / union.size else 0.0
      }
    val confScore = 0.5 * math.min(1.0, spread * 2.0) + 0.5 * stability
    val level = if (confScore > 0.75) "high" else if (confScore > 0.4) "medium" else "low"
    Confidence(level, pyRound3(confScore), pyRound3(spread), pyRound3(stability))
  }

  /** Python round(x, 3) — round-half-even on the exact binary value. */
  def pyRound3(x: Double): Double = {
    if (x.isNaN || x.isInfinite) return x
    new java.math.BigDecimal(x)
      .setScale(3, java.math.RoundingMode.HALF_EVEN).doubleValue()
  }

  /** cite.py:174-195 author_date_citation. */
  def authorDateCitation(meta: graft.corpus.ChunkMeta, page: Int): String = {
    val au =
      if (meta.authors.isEmpty) "Unknown"
      else if (meta.authors.length == 1) meta.authors.head.split(",")(0).trim
      else meta.authors.head.split(",")(0).trim + " et al."
    val yr = meta.year.map(_.toString).getOrElse("n.d.")
    val actualPage = meta.startPage match {
      case Some(sp) => sp + (page - 1)
      case None     => page
    }
    if (actualPage != 0) s"($au, $yr, p. $actualPage)" else s"($au, $yr)"
  }

  /** cite.py:198-210 pandoc_citation. */
  def pandocCitation(meta: graft.corpus.ChunkMeta, page: Int): Option[String] =
    meta.citekey.map { key =>
      val actualPage = meta.startPage match {
        case Some(sp) => sp + (page - 1)
        case None     => page
      }
      if (actualPage != 0) s"[@$key, p. $actualPage]" else s"[@$key]"
    }

  /** diversity.py:247-305 format_results. */
  def formatResults(selected: Seq[(ChunkRow, Double)], cfg: PipelineConfig): List[ResultRow] =
    selected.map { case (chunk, score) =>
      val chicago = authorDateCitation(chunk.meta, chunk.page)
      val pandoc = pandocCitation(chunk.meta, chunk.page)
      val citation =
        if (cfg.pandocPrimary && pandoc.isDefined) pandoc.get else chicago
      ResultRow(
        text = Analyzer.windowSnippet(chunk.text, cfg.maxSnippetChars),
        citation = citation,
        source = SourceRef(chunk.source, chunk.page, chunk.meta.doi,
          chunk.meta.title, chunk.meta.citekey),
        pandoc = if (cfg.includePandoc) pandoc else None,
        score = if (cfg.includeScores) Some(pyRound3(score)) else None)
    }.toList

  /** performance.py:70-101 deterministic tie-break sort. */
  def sortDeterministically(results: List[ResultRow]): List[ResultRow] =
    results.sortBy(r => (-r.score.getOrElse(0.0), r.source.page, r.source.file,
      r.source.doi.getOrElse("")))

  /** main.py:99-247 search_topk — full multi-run RRF pipeline. */
  def searchTopK(backend: SearchBackend, query: String, cfg: PipelineConfig,
                 bm25Query: Option[String] = None,
                 embeddings: Option[EmbeddingProvider] = None,
                 ann: Option[AnnPreselector] = None): SearchOutput = {
    val qTokens = Analyzer.tokenize(query).toIndexedSeq
    val bq = bm25Query.getOrElse(query)

    val pool = backend.topPool(query, bq, cfg.poolSize, cfg)
    if (pool.isEmpty)
      return SearchOutput(Nil, Confidence("low", 0.0, 0.0, 0.0, Some("No results")),
        Vector.empty, Nil, Nil, Nil, None)
    val poolIds = pool.map(_._1.chunkId)
    val chunkById = pool.map(p => p._1.chunkId -> p._1).toMap
    val scoreById = pool.map(p => p._1.chunkId -> p._2).toMap
    val poolChunks = pool.map(_._1)

    def rankByBm25Order(queryStr: String): List[Long] = {
      val toks = Analyzer.tokenize(queryStr).toIndexedSeq
      val scores = backend.bm25ScoresFor(toks, poolChunks)
      poolIds.sortBy(id => -scores.getOrElse(id, 0.0)).toList
    }

    // Run A: baseline (pool is already ordered by bonused score)
    var runs = List.newBuilder[List[Long]]
    runs += poolIds.toList

    // HyDE variant runs (fusion.py:99-108): query + hypothetical answer,
    // limited to 3 variants; variants are caller-supplied strings
    if (cfg.hydeVariants.length > 1) {
      for (hydeQ <- cfg.hydeVariants.take(3))
        runs += rankByBm25Order(s"$query $hydeQ")
    }

    // Run B: RM3 (fusion.py:110-125)
    var rm3Expanded: Option[String] = None
    if (cfg.prfEnabled) {
      val fbTexts = backend.topDocsForRm3(qTokens, math.max(1, cfg.fbDocs))
      val expanded = rm3Expand(query, fbTexts, cfg.fbTerms)
      if (expanded != query) {
        rm3Expanded = Some(expanded)
        runs += rankByBm25Order(expanded)
      }
    }

    // Run C: heuristic rerank over top-topn of pool (fusion.py:127-157)
    if (cfg.heuristicEnabled) {
      val topn = math.min(cfg.heuristicTopn, pool.length)
      val candidates = pool.take(topn).map(p => (p._1.chunkId, p._1.text))
      runs += heuristicRerank(query, candidates, cfg.heuristicAlpha,
        cfg.heuristicBeta, cfg.heuristicGamma)
    }

    // Run D: semantic rerank (fusion.py:159-200; off by default). The
    // reference falls back to original-score order when the model is
    // unavailable — mirrored when no provider is supplied. With ANN
    // enabled, candidates come from a whole-corpus preselect instead of
    // the pool head (fusion.py:171-185), with bonused baseline scores
    // recomputed for out-of-pool chunks.
    if (cfg.semanticEnabled) {
      val topn = math.min(cfg.semanticTopn, pool.length)
      var candidates = pool.take(topn).map(p => (p._1.chunkId, p._1.text, p._2))
      if (cfg.annEnabled) ann.foreach { a =>
        val ids = a.preselect(query, cfg.annTopn)
        if (ids.nonEmpty) {
          candidates = backend.bonusedScoresFor(query, bq, ids, cfg)
            .map { case (c, s) => (c.chunkId, c.text, s) }
        }
      }
      runs += (embeddings match {
        case Some(p) => Semantic.semanticRun(query, candidates, candidates.length, p)
        case None    => candidates.map(_._1).toList
      })
    }

    // Run E: robust query variant (fusion.py:202-207)
    if (cfg.robustEnabled) {
      val robustQ = Analyzer.robustifyQuery(query)
      if (robustQ != lower(query).trim) runs += rankByBm25Order(robustQ)
    }

    val allRuns = runs.result()
    val confidence = calibrateConfidence(pool.map(_._2), allRuns, cfg.k)

    val fused: List[Long] =
      if (allRuns.length >= 2 && cfg.rrfEnabled)
        rrfFuse(allRuns, cfg.rrfC, cfg.rrfCap)
      else allRuns.headOption.getOrElse(poolIds.toList)

    val selected0 =
      if (cfg.diversityEnabled)
        fusedDiversitySelection(fused, id => chunkById(id).docId, scoreById,
          cfg.k, enabled = true, cfg.perDocPenalty, cfg.maxPerDoc)
      else fused.take(cfg.k)

    val selected =
      if (cfg.mmrEnabled && selected0.length > 1) {
        val mmrCandidates = selected0.take(math.min(20, selected0.length))
          .map(id => (id, chunkById(id).text, scoreById(id)))
        mmrSelection(query, mmrCandidates, cfg.mmrLambda, cfg.k)
      } else selected0

    var results = formatResults(selected.map(id => (chunkById(id), scoreById(id))), cfg)
    if (cfg.deterministicSort) results = sortDeterministically(results)
    SearchOutput(results.take(cfg.k), confidence, poolIds, allRuns, fused,
      selected, rm3Expanded)
  }
}
