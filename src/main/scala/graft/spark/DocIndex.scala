package graft.spark

import org.apache.spark.sql.SparkSession
import graft.corpus.{ChunkMeta, ChunkRow}
import graft.index.{BuildConfig, IndexBuilder, IndexPaths}
import graft.query.SparkBackend

/** Builds (once per session and sfDir, kept in the session's
  * [[SessionMemo]]) a real inverted index over the `documents` testdata
  * table — each document row is one chunk — so the engine-path queries
  * (q_search_topk, q_wand_topk) run against persisted postings exactly
  * like the web corpus does. The index lives in a temporary directory
  * that is deleted when the registry drops the session.
  */
object DocIndex {
  val TermBuckets = 8

  /** The memo entry; closing it deletes the index directory (plain file
    * I/O: the session's SparkContext has stopped by then).
    */
  private case class Entry(paths: IndexPaths, backend: SparkBackend) extends AutoCloseable {
    def close(): Unit = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(paths.root))
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally walk.close()
    }
  }

  def backendFor(spark: SparkSession, dir: String): (IndexPaths, SparkBackend) = {
    val e = SessionMemo.getOrPut(spark, s"docindex:$dir") {
      import spark.implicits._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text", "source")
        .as[(Long, String, String)]
        .map { case (id, text, source) =>
          ChunkRow(id, IndexBuilder.stableId(source), source, 1, id.toInt, text,
            ChunkMeta())
        }
      val paths = IndexPaths(
        java.nio.file.Files.createTempDirectory("graft-docindex").toString)
      IndexBuilder.build(spark, docs, paths,
        BuildConfig(nTermBuckets = TermBuckets, nDocShards = 0,
          shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions", "8").toInt))
      Entry(paths, new SparkBackend(spark, paths))
    }
    (e.paths, e.backend)
  }
}
