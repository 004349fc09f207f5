package perfbench

import graft.corpus.WebPages

/** One generated request of the `serve` workload. */
final case class GenQuery(text: String, prf: Boolean)

/** Seeded query stream over the page generator's vocabulary: its topic
  * words, which sit at Zipf ranks 8, 11, 14, ..., and its mid-tail words
  * (ranks 200-400, drawn log-uniform, each in about 1.5-4% of the chunks)
  * that reach the selective posting lists.
  *
  * Queries come in blocks of `Block`, and every block has the same mix:
  *  - one heavy query: three or more distinct words of the six most
  *    frequent topic words (each in 31-60% of the chunks, so the document
  *    frequencies sum past half the corpus and the pool takes the dense
  *    path), at least `LongChars` characters (the fuzzy bonus is on), with
  *    RM3 feedback;
  *  - three light queries, shorter than `LongChars`, without feedback:
  *    each one of the three `MidWords` (each in 11% of the chunks), plus
  *    none, one and two mid-tail words. The topic word gives the pool
  *    enough candidates to take the bounded path; mid-tail words alone
  *    match too few chunks and fall back to the dense pass, which would
  *    split the light queries into two latency clusters.
  * The seed draws the heavy query's words, the mid-tail words, which topic
  * word gets how many of them, and the order within the block. A light
  * query's cost depends on its topic word and on how many of its words
  * are new to the backend's term-statistics cache, so both are the same in
  * every block: with topic words drawn per query (even from a band of
  * seven), the six or nine light queries of a run left the search median
  * up to twice as high on one seed as on another. A mid-tail word in under
  * 1% of the chunks made a light query up to twice as slow as one in
  * 1.5-4%, so the mid-tail range is narrow too. With one heavy query in
  * four, the median sits inside the light queries' cluster.
  */
object QueryGen {
  val Block = 4
  val LongChars = 20
  private val HeadWords = 6

  /** Light queries' topic words: Zipf ranks 65, 68 and 71. */
  val MidWords: Seq[String] = WebPages.Vocab.slice(19, 22).toSeq

  /** The topic words the queries draw from. A serving backend has these
    * in its term-statistics cache after a few queries.
    */
  val TopicWords: Seq[String] = WebPages.Vocab.take(HeadWords).toSeq ++ MidWords

  private def midTail(rng: scala.util.Random): String =
    WebPages.wordAt(math.exp(math.log(200) + rng.nextDouble() *
      (math.log(400) - math.log(200))).toInt)

  private def heavy(rng: scala.util.Random): GenQuery = {
    val words = rng.shuffle((0 until HeadWords).toList).map(WebPages.Vocab(_))
    val n = 3 + rng.nextInt(HeadWords - 2)
    val text = words.take(n).mkString(" ")
    GenQuery(if (text.length >= LongChars) text else words.mkString(" "), prf = true)
  }

  private def light(rng: scala.util.Random, topic: String, extra: Int): GenQuery = {
    var text = ""
    do text = rng.shuffle(topic +: Seq.fill(extra)(midTail(rng))).mkString(" ")
    while (text.length >= LongChars)
    GenQuery(text, prf = false)
  }

  def generate(seed: Long, blocks: Int): IndexedSeq[GenQuery] = {
    val rng = new scala.util.Random(seed)
    (0 until blocks).flatMap { _ =>
      val lights = rng.shuffle(MidWords).zipWithIndex.map { case (w, extra) => light(rng, w, extra) }
      rng.shuffle(heavy(rng) +: lights)
    }
  }
}
