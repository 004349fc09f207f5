package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import graft.corpus.WebPages

/** The catalog layer: `SparkEntry.queries` entries that only the catalog
  * reaches, over tables the benchmark generates itself.
  *
  * The set is the part of the 50-entry catalog that no other workload
  * runs: the pair generators (connected components over the minhash LSH
  * pairs, shingle Jaccard pairs), the embedding near-duplicate scan and
  * the ANN queries (LSH bucket, IVF). `q_lsh_pairs` is left out because
  * `q_dedup_clusters` runs the same LSH pair generation before its
  * components, and its oracle would double the set-up's slowest step.
  * Every entry goes through the per-session view registry. Each has a
  * pure DuckDB oracle in `SparkEntry.oracleSql`.
  */
object Catalog {
  val Queries: Seq[String] = Seq(
    "q_dedup_clusters", "q_jaccard_pairs",
    "q_embed_neardup", "q_ann_lsh", "q_ann_ivf")
  val PairGenerators: Set[String] = Set("q_dedup_clusters", "q_jaccard_pairs")

  val Docs = 800
  val Vecs = 2000
  val Dim = 64
  val Labels = 10

  private def zipfWord(rng: scala.util.Random): String =
    WebPages.wordAt(math.max(1, math.exp(rng.nextDouble() * math.log(WebPages.VocabSize)).toInt))

  /** Document texts: 20-39 Zipf-drawn words, and every fourth document a
    * near-duplicate of the one three before it (two words replaced), so
    * the pair generators and the components have pairs and clusters.
    */
  def documentTexts(seed: Long): IndexedSeq[String] = {
    val rng = new scala.util.Random(seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until Docs).foreach { i =>
      if (i % 4 == 3) {
        val w = texts(i - 3).split(' ')
        (0 until 2).foreach(_ => w(rng.nextInt(w.length)) = zipfWord(rng))
        texts += w.mkString(" ")
      } else texts += Seq.fill(20 + rng.nextInt(20))(zipfWord(rng)).mkString(" ")
    }
    texts.toIndexedSeq
  }

  /** Embeddings in `Labels` clusters: a Gaussian centroid per label plus
    * unit Gaussian noise, so same-label pairs sit around cosine 0.5.
    */
  def embeddings(seed: Long): IndexedSeq[(Long, Array[Float], Int)] = {
    val rng = new scala.util.Random(seed + 1)
    val centroids = Array.fill(Labels, Dim)(rng.nextGaussian())
    (0 until Vecs).map { i =>
      val l = i % Labels
      (i.toLong, Array.tabulate(Dim)(d => (centroids(l)(d) + rng.nextGaussian()).toFloat), l)
    }
  }

  /** Writes `documents.parquet` and `embeddings.parquet` under `dir`, the
    * layout the catalog queries read.
    */
  def writeTables(spark: SparkSession, dir: Path, seed: Long): Unit = {
    import spark.implicits._
    val langs = Array("en", "en", "de", "es", "fr", "zh")
    documentTexts(seed).zipWithIndex
      .map { case (t, i) => (i.toLong, t, langs(i % langs.length), s"src${i % 20}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    embeddings(seed).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(dir.resolve("embeddings.parquet").toString)
  }
}
