package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.{JobCount, JobTasks}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.{ChunkMeta, ChunkRow}
import graft.index.{BlockFiles, BuildConfig, IndexBuilder, IndexPaths}
import graft.query.{LocalBackend, PipelineConfig, SparkBackend}

/** The search path reads the index by directory, with no Catalyst plan:
  * term stats on the driver with no Spark job, and chunk rows inside the
  * shard tasks. Both readers must return what a Catalyst read of the same
  * table returns.
  */
class IndexFilesSpec extends AnyFunSuite with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  /** Chunks whose metadata has every `Option` set, none set, or some, with
    * empty and non-empty `authors`.
    */
  private lazy val chunks: Seq[ChunkRow] = (0 until 40).map { i =>
    val meta = i % 4 match {
      case 0 => ChunkMeta()
      case 1 => ChunkMeta(Some(s"Title $i"), Seq(s"Author $i", "Second Author"), Some(2000 + i),
        Some(s"10.1/$i"), Some(i), Some(i + 3), Some(s"key$i"), Some("Venue"),
        Some("Publisher"), Some(s"https://oa.example/$i"))
      case 2 => ChunkMeta(title = Some(s"Only a title $i"), authors = Seq("Solo"))
      case _ => ChunkMeta(year = Some(1999), oaUrl = Some("https://oa.example"))
    }
    val topic = if (i % 2 == 0) "spark shuffle engines" else "ocean water currents"
    ChunkRow(i * 7919L, i.toLong, s"https://site.example/$i.pdf", i % 3, i % 2,
      s"chunk $i about $topic, number $i of the fixture", meta)
  }
  private val nShards = 3
  private lazy val paths: IndexPaths = {
    import spark.implicits._
    val p = IndexPaths(tempDir("graft-indexfiles"))
    IndexBuilder.build(spark, spark.createDataset(chunks), p,
      BuildConfig(nTermBuckets = 4, nDocShards = nShards, shufflePartitions = 4))
    p
  }

  test("the in-task chunk reader returns a Catalyst read's rows and metadata") {
    val expected = IndexFilesSpec.catalystRows(spark, paths)
    assert(expected.keySet == (0 until nShards).toSet)
    val ids = chunks.map(_.chunkId).toSet
    for (s <- 0 until nShards) {
      val (rows, opened) = IndexFilesSpec.readChunks(conf, paths.chunks, s, Some(ids))
      assert(rows.length == expected(s).size && rows.toSet == expected(s), s"cbucket $s")
      assert(opened.nonEmpty && opened.forall(_._1.contains(s"/cbucket=$s/")), s"cbucket $s: $opened")
      // the pushed id filter keeps only the asked rows
      val some = expected(s).take(2).map(_._1.chunkId)
      assert(IndexFilesSpec.readChunks(conf, paths.chunks, s, Some(some))._1.map(_._1.chunkId).toSet == some)
      // no id set: the whole bucket
      val all = IndexFilesSpec.readChunks(conf, paths.chunks, s, None)
      assert(all._1.length == rows.length && all._1.toSet == rows.toSet && all._2 == opened)
    }
    assert(IndexFilesSpec.readChunks(conf, paths.chunks, 0, Some(Set.empty)) == ((Nil, Nil)))
    // every metadata shape went through the reader
    val metas = expected.values.flatten.map(_._1.meta).toSet
    assert(metas.contains(ChunkMeta()))
    assert(metas.exists(m => m.authors.length == 2 && m.productIterator.forall(_ != None)))
    assert(metas.exists(m => m.authors == Seq("Solo") && m.year.isEmpty))
  }

  test("idfFor reads cold terms with no Spark job, equal to a Catalyst read of term_stats") {
    import spark.implicits._
    val copy = IndexPaths(tempDir("graft-indexfiles-stats"))
    FileUtils.copyDirectory(new java.io.File(paths.root), new java.io.File(copy.root))
    def table(): Map[String, (Double, Long)] = spark.read.parquet(copy.termStats)
      .select("term", "idf", "df").as[(String, Double, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // a term whose bucket directory is gone: the table no longer has it
    val gone = table().keys.min
    FileUtils.deleteDirectory(new java.io.File(
      s"${copy.termStats}/bucket=${IndexBuilder.termBucket(gone, 4)}"))
    val expected = table()
    assert(!expected.contains(gone))
    val present = expected.keys.toSeq.sorted.take(6)
    assert(present.map(IndexBuilder.termBucket(_, 4)).distinct.size > 1)
    val terms = present ++ Seq("zzyzxnotaterm", gone, present.head, "zzyzxnotaterm")
    val be = new SparkBackend(spark, copy) // opening runs its own job
    val ((idf, df), jobs) = JobCount(spark.sparkContext)((be.idfFor(terms), be.dfFor(terms)))
    assert(jobs == 0, s"the term-stats lookup ran $jobs Spark jobs")
    for (t <- terms) {
      val (ei, ed) = expected.getOrElse(t, (0.0, 0L))
      assert(idf(t) == ei && df(t) == ed, s"'$t': (${idf(t)}, ${df(t)}) vs ($ei, $ed)")
    }
  }

  test("bonusedScoresFor fetches arbitrary ids in one job over their shards") {
    val be = new SparkBackend(spark, paths)
    val ids = Seq(chunks(5).chunkId, 424242L, chunks(0).chunkId, chunks(12).chunkId)
    val shards = ids.map(IndexBuilder.chunkBucket(_, nShards)).distinct
    val q = "spark engines water"
    val (got, tasks) = JobTasks(spark.sparkContext)(
      be.bonusedScoresFor(q, q, ids, PipelineConfig()))
    assert(tasks == Seq(shards.size), s"tasks per job $tasks")
    val expected = new LocalBackend(chunks.toIndexedSeq).bonusedScoresFor(q, q, ids, PipelineConfig())
    assert(got.map(_._1.chunkId) == Seq(chunks(5), chunks(0), chunks(12)).map(_.chunkId))
    assert(got.map(_._1) == expected.map(_._1))
    got.zip(expected).foreach { case ((c, gs), (_, es)) =>
      assert(math.abs(gs - es) < 1e-9, s"${c.chunkId}: $gs vs $es")
    }
    assert(be.bonusedScoresFor(q, q, Nil, PipelineConfig()).isEmpty)
  }
}

object IndexFilesSpec {
  /** The chunk-table columns the serving reader returns, and the cbucket
    * partition.
    */
  private val ChunkSchema = Encoders.product[ChunkRow].schema
    .add("pattern_b", "double").add("meta_b", "double").add("gib", "double")
    .add("cbucket", "int")

  /** `BlockFiles.readChunks`'s visited rows, collected, and its files. */
  def readChunks(conf: Configuration, root: String, cbucket: Int, ids: Option[Set[Long]])
      : (Seq[BlockFiles.ChunkWithStatics], Seq[(String, Long)]) = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[BlockFiles.ChunkWithStatics]
    val opened = BlockFiles.readChunks(conf, root, cbucket, ids)(rows += _)
    (rows.toSeq, opened)
  }

  /** A Catalyst read of the chunk table: each cbucket's rows with their
    * static bonuses (pattern, meta, gib).
    */
  def catalystRows(spark: SparkSession, p: IndexPaths): Map[Int, Set[BlockFiles.ChunkWithStatics]] = {
    import spark.implicits._
    spark.read.schema(ChunkSchema).parquet(p.chunks)
      .select(col("cbucket"), col("chunkId"), col("docId"), col("source"), col("page"),
        col("chunkIdx"), col("text"), col("meta"), col("pattern_b"), col("meta_b"), col("gib"))
      .as[(Int, Long, Long, String, Int, Int, String, ChunkMeta, Double, Double, Double)]
      .collect().toSeq
      .groupBy(_._1).map { case (b, rs) =>
        b -> rs.map { case (_, id, doc, src, page, idx, text, meta, pb, mb, gib) =>
          (ChunkRow(id, doc, src, page, idx, text, meta), (pb, mb, gib))
        }.toSet
      }
  }
}
