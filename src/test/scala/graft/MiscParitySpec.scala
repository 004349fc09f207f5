package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.analysis.Analyzer
import graft.corpus.ChunkMeta
import graft.query.Pipeline

/** Parity for operators not on the default pipeline path: MMR with more
  * candidates than k, the streaming diversity variant, citations, rerank
  * internals, DOI regex, snippet windows (misc_vectors.json).
  */
class MiscParitySpec extends AnyFunSuite {
  private val misc = Goldens.load("misc_vectors.json")
  private val eps = 1e-12

  test("find_doi_in_text parity") {
    misc.get("find_doi").elements().asScala.foreach { c =>
      assert(Analyzer.findDoiInText(c.get("text").asText()) == Goldens.optStr(c, "doi"),
        c.get("text").asText())
    }
  }

  test("snippet window parity at several maxlens") {
    misc.get("window").elements().asScala.foreach { c =>
      assert(Analyzer.windowSnippet(c.get("text").asText(), c.get("maxlen").asInt()) ==
        c.get("out").asText())
    }
  }

  test("mmr_selection parity (candidates > k)") {
    misc.get("mmr").elements().asScala.foreach { c =>
      val candidates = c.get("candidates").elements().asScala.map { n =>
        val it = n.elements().asScala.toSeq
        (it(0).asLong(), it(1).asText(), it(2).asDouble())
      }.toSeq
      val got = Pipeline.mmrSelection(c.get("query").asText(), candidates,
        0.7, c.get("k").asInt())
      val expected = c.get("selected").elements().asScala.map(_.asLong()).toList
      assert(got == expected, s"query=${c.get("query").asText()}")
    }
  }

  test("apply_diversity_selection parity") {
    val docIds = Goldens.chunks.map(_.docId)
    misc.get("apply_diversity").elements().asScala.foreach { c =>
      val results = c.get("results").elements().asScala.map { n =>
        val it = n.elements().asScala.toSeq
        (it(0).asLong(), it(1).asDouble())
      }.toSeq
      val got = Pipeline.applyDiversitySelection(results, id => docIds(id.toInt))
      val expected = c.get("out").elements().asScala.map { n =>
        val it = n.elements().asScala.toSeq
        (it(0).asLong(), it(1).asDouble())
      }.toList
      assert(got.map(_._1) == expected.map(_._1))
      got.zip(expected).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < eps)
      }
    }
  }

  test("citation formatting parity") {
    misc.get("citations").elements().asScala.foreach { c =>
      val m = c.get("meta")
      val meta = ChunkMeta(
        title = Goldens.optStr(m, "title"),
        authors = if (m.has("authors")) Goldens.strSeq(m.get("authors")) else Nil,
        year = Goldens.optInt(m, "year"),
        doi = Goldens.optStr(m, "doi"),
        startPage = Goldens.optInt(m, "start_page"),
        citekey = Goldens.optStr(m, "citekey"))
      val page = c.get("page").asInt()
      assert(Pipeline.authorDateCitation(meta, page) == c.get("author_date").asText())
      assert(Pipeline.pandocCitation(meta, page) == Goldens.optStr(c, "pandoc"))
    }
  }

  test("heuristic rerank internals parity (idf/coverage/proximity/phrase)") {
    misc.get("rerank_internals").elements().asScala.foreach { c =>
      val q = c.get("query").asText()
      val doc = c.get("doc").asText()
      val qt = Analyzer.tokenizeForRerank(q).toIndexedSeq
      val dt = Analyzer.tokenizeForRerank(doc).toIndexedSeq
      val idf = Pipeline.idfWeight(qt)
      c.get("idf").fields().asScala.foreach { e =>
        assert(math.abs(idf(e.getKey) - e.getValue.asDouble()) < eps, s"idf ${e.getKey}")
      }
      assert(math.abs(Pipeline.coverageScore(qt, dt, idf) -
        c.get("coverage").asDouble()) < eps, s"coverage $q")
      assert(math.abs(Pipeline.proximityScoreRerank(qt, dt, 24) -
        c.get("proximity").asDouble()) < eps, s"proximity $q")
      assert(math.abs(Pipeline.phraseBoost(q, doc) -
        c.get("phrase").asDouble()) < eps, s"phrase $q")
    }
  }
}
