package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private val ms = 1000000L

  test("percentile rule: the highest level with at least ten samples beyond it") {
    def xs(n: Int) = (1 to n).map(_.toDouble).reverse
    assert(Stats.tail(xs(19)).isEmpty)
    assert(Stats.tail(xs(20)) == Some((0.5, 10.0)))
    assert(Stats.tail(xs(39)) == Some((0.5, 20.0)))
    assert(Stats.tail(xs(40)) == Some((0.75, 30.0)))
    assert(Stats.tail(xs(100)) == Some((0.9, 90.0)))
    assert(Stats.tail(xs(199)).map(_._1) == Some(0.9))
    assert(Stats.tail(xs(200)) == Some((0.95, 190.0)))
    assert(Stats.tail(xs(1000)) == Some((0.99, 990.0)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time is the span minus the union of its children, clipped to it") {
    val spans = Seq(
      Span(0, "root", -1, 1, 0, 100),
      Span(1, "a", 0, 1, 10, 30),
      Span(2, "b", 0, 1, 20, 40), // overlaps a: [10, 40] counted once
      Span(3, "c", 0, 1, 90, 120), // clipped to [90, 100]
      Span(4, "a.x", 1, 1, 12, 18),
      Span(5, "other", -1, 2, 200, 250))
    val self = Trace.selfNs(spans)
    assert(self(0) == 100 - 30 - 10)
    assert(self(1) == 20 - 6)
    assert(self(2) == 20)
    assert(self(3) == 30)
    assert(self(5) == 50)
  }

  test("the tracer nests spans on one thread and tags requests") {
    val entered = scala.collection.mutable.ArrayBuffer.empty[Int]
    val tr = new Tracer(true, entered += _)
    tr.newRequest()
    tr.span("outer") { tr.span("inner")(()) ; tr.span("inner2")(()) }
    tr.newRequest()
    tr.span("next")(())
    val s = tr.spans
    assert(s.map(_.name) == Seq("outer", "inner", "inner2", "next"))
    assert(s.map(_.parent) == Seq(-1, 0, 0, -1))
    assert(s.map(_.request) == Seq(1, 1, 1, 2))
    assert(entered == Seq(0, 1, 0, 2, 0, -1, 3, -1))
    assert(new Tracer(false).span("x")(42) == 42)
  }

  test("listener jobs go to the tagged span, else to the innermost open span") {
    val outer = Span(0, "index.build", -1, 1, 0, 100 * ms)
    val inner = Span(1, "index.update_detect", 0, 1, 10 * ms, 50 * ms)
    val gone = Span(2, "corpus.chunk", -1, 0, -20 * ms, -10 * ms)
    val spans = Seq(outer, inner, gone)
    val byId = spans.map(s => s.id -> s).toMap
    // the submitting thread's tag wins while that span is open
    assert(Trace.attribute(spans, byId, 20 * ms, Some(0)) == 0)
    assert(Trace.attribute(spans, byId, 20 * ms, Some(1)) == 1)
    // millisecond job stamps: a tag just before its span opened still holds
    assert(Trace.attribute(spans, byId, 10 * ms - ms / 2, Some(1)) == 1)
    // a pool thread's stale tag or no tag: the span open at submission
    assert(Trace.attribute(spans, byId, 60 * ms, Some(2)) == 0)
    assert(Trace.attribute(spans, byId, 30 * ms, None) == 1)
    assert(Trace.attribute(spans, byId, 200 * ms, None) == -1)

    val jobs = Seq(
      (20 * ms, Some(1), JobStats(jobs = 1, tasks = 4, shuffleWriteBytes = 10)),
      (60 * ms, Some(2), JobStats(jobs = 1, tasks = 2)),
      (70 * ms, None, JobStats(jobs = 1, tasks = 1, spillBytes = 5)))
    val own = Trace.statsBySpan(spans, jobs)
    assert(own(1) == JobStats(jobs = 1, tasks = 4, shuffleWriteBytes = 10))
    assert(own(0) == JobStats(jobs = 2, tasks = 3, spillBytes = 5))
    assert(Trace.statsUnder(spans, own, _ == "index.build") ==
      JobStats(jobs = 3, tasks = 7, shuffleWriteBytes = 10, spillBytes = 5))
  }

  test("the query generator is a pure function of its seed, with a fixed mix") {
    val a = QueryGen.generate(7, 50)
    assert(a == QueryGen.generate(7, 50))
    assert(a != QueryGen.generate(8, 50))
    assert(a.length == 50 * QueryGen.Block)
    a.grouped(QueryGen.Block).foreach { b =>
      assert(b.count(_.text.length >= QueryGen.LongChars) == 1)
      assert(b.count(_.prf) == 1)
      val lights = b.filterNot(_.prf).map(_.text.split(" "))
      assert(lights.map(_.length).sorted == Seq(1, 2, 3))
      assert(lights.map(_.filter(QueryGen.MidWords.contains).toSeq).sortBy(_.head) ==
        QueryGen.MidWords.sorted.map(Seq(_)))
    }
    a.foreach(q => assert(q.text.split(" ").length <= 6))
  }

  test("the catalog tables are a pure function of their seed, with near-duplicates") {
    val docs = Catalog.documentTexts(42)
    assert(docs == Catalog.documentTexts(42))
    assert(docs.length == Catalog.Docs)
    docs.indices.filter(_ % 4 == 3).foreach { i =>
      val (a, b) = (docs(i - 3).split(' '), docs(i).split(' '))
      assert(a.length == b.length && a.zip(b).count { case (x, y) => x != y } <= 2)
    }
    val e = Catalog.embeddings(42)
    assert(e.map(_._2.toSeq) == Catalog.embeddings(42).map(_._2.toSeq))
    assert(e.forall(_._2.length == Catalog.Dim) && e.map(_._3).toSet.size == Catalog.Labels)
  }

  test("WAND agrees with the exact top-k up to float-order near ties") {
    val exact = Seq(5L -> 3.0, 7L -> 2.0, 9L -> 2.0)
    val of = Map(5L -> 3.0, 7L -> 2.0, 9L -> (2.0 + 1e-12))
    assert(Workloads.wandMatches(exact, exact, of).isEmpty)
    assert(Workloads.wandMatches(Seq(5L -> 3.0, 9L -> 2.0, 7L -> 2.0), exact, of).isEmpty)
    assert(Workloads.wandMatches(Seq(5L -> 3.0, 8L -> 2.0, 7L -> 2.0), exact, of).nonEmpty)
    assert(Workloads.wandMatches(exact.take(2), exact, of).nonEmpty)
    assert(Workloads.wandMatches(Seq(5L -> 3.0, 7L -> 2.5, 9L -> 2.0), exact, of).nonEmpty)
  }
}
