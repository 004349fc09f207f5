package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.corpus.{Biblio, ChunkMeta, ChunkRow}

class BiblioSpec extends AnyFunSuite with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("fallback citekey + collision suffixing parity vs reference") {
    val g = Goldens.load("citekeys.json")
    g.get("fallback_keys").elements().asScala.foreach { c =>
      assert(Biblio.fallbackCitekey(c.get("filename").asText()) == c.get("key").asText(),
        c.get("filename").asText())
    }
    // reference assigned keys per (source, page); reconstruct per-source
    // first-appearance order with presets, then compare assignments
    val assigned = g.get("assigned").elements().asScala.toList
    val inOrder = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
    assigned.foreach { a =>
      val src = a.get("source").asText()
      if (!inOrder.contains(src))
        inOrder(src) = if (src == "gamma.pdf") Some("preset") else None
    }
    val got = Biblio.assignCitekeys(inOrder.toSeq)
    assigned.foreach { a =>
      assert(got(a.get("source").asText()) == a.get("citekey").asText(),
        a.get("source").asText())
    }
  }

  test("bibliography broadcast enrichment fills missing fields only") {
    import spark.implicits._
    val dir = tempDir("biblio")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/biblio.json"),
      """[
        {"pdfFile": "siteA.pdf", "citekey": "smith2020x", "title": "A Paper",
         "authors": [{"family": "Smith", "given": "John"}, {"family": "Solo"}],
         "year": 2020, "doi": "10.1/abc", "pages": {"start": 100, "end": 120}},
        {"pdfFile": "other.pdf", "citekey": "by-doi", "title": "Doi Matched",
         "authors": [], "year": 2021, "doi": "10.2/XYZ", "pages": null}
      ]""")
    val chunks = Seq(
      // filename match; has own title which must be preserved
      ChunkRow(1, 1, "https://x/siteA.pdf", 1, 0, "t1",
        ChunkMeta(title = Some("Own Title"))),
      // no filename match; doi fallback
      ChunkRow(2, 2, "https://x/siteB.pdf", 1, 0, "t2",
        ChunkMeta(doi = Some("10.2/xyz"))),
      // no match at all
      ChunkRow(3, 3, "https://x/siteC.pdf", 2, 0, "t3", ChunkMeta())
    ).toDS()
    val biblio = Biblio.loadIndex(spark, s"$dir/biblio.json")
    val out = Biblio.enrich(chunks, biblio).collect().sortBy(_.chunkId)

    val a = out(0)
    assert(a.meta.title.contains("Own Title")) // not overwritten
    assert(a.meta.authors == Seq("Smith, John", "Solo"))
    assert(a.meta.year.contains(2020))
    assert(a.meta.doi.contains("10.1/abc"))
    assert(a.meta.startPage.contains(100) && a.meta.endPage.contains(120))
    assert(a.meta.citekey.contains("smith2020x"))

    val b = out(1)
    assert(b.meta.title.contains("Doi Matched")) // matched via lowercased DOI
    assert(b.meta.citekey.contains("by-doi"))
    assert(b.meta.doi.contains("10.2/xyz")) // own value kept

    val c = out(2)
    assert(c.meta.title.isEmpty && c.meta.citekey.isEmpty)

    // citekey fill pass
    val filled = Biblio.ensureCitekeys(Biblio.enrich(chunks, biblio))
      .collect().sortBy(_.chunkId)
    assert(filled(2).meta.citekey.contains("sitec"))
    assert(filled(0).meta.citekey.contains("smith2020x"))
  }
}
