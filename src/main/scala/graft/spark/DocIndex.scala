package graft.spark

import org.apache.spark.sql.SparkSession
import graft.corpus.{ChunkMeta, ChunkRow}
import graft.index.{BuildConfig, IndexBuilder, IndexPaths}
import graft.query.SparkBackend

/** Builds (once per session and sfDir, kept in the session's
  * [[SessionMemo]]) a real inverted index over the `documents` testdata
  * table — each document row is one chunk — so the engine-path queries
  * (q_search_topk, q_wand_topk) run against persisted postings exactly
  * like the web corpus does.
  */
object DocIndex {
  val TermBuckets = 8

  def backendFor(spark: SparkSession, dir: String): (IndexPaths, SparkBackend) =
    SessionMemo.getOrPut(spark, s"docindex:$dir") {
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
      (paths, new SparkBackend(spark, paths))
    }
}
