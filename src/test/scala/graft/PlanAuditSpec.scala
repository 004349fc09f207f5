package graft

import org.apache.spark.sql.execution.{FilterExec, GlobalLimitExec, ProjectExec, SortExec,
  SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{BuildConfig, IndexBuilder, IndexPaths}
import graft.query.SparkBackend

/** Physical-plan audit: the properties that make the engine viable at
  * 100 TB must hold in the PLAN, not just in prose — partition pruning to
  * the query terms' buckets, parquet-pushed term filters, broadcast of
  * dimension sides, and a bounded (top-200) input to each fusion run's
  * window.
  */
class PlanAuditSpec extends AnyFunSuite with SparkTestSession.TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val (paths, backend) = {
    import spark.implicits._
    val dir = tempDir("graft-planaudit")
    val p = IndexPaths(dir)
    IndexBuilder.build(spark, spark.createDataset(Goldens.chunks), p,
      BuildConfig(nTermBuckets = 8, nDocShards = 2, shufflePartitions = 8))
    (p, new SparkBackend(spark, p))
  }

  test("blocks scan is bucket-pruned with the term filter pushed to parquet") {
    val df = backend.scoresDF(Seq("machine", "learning"))
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"no bucket partition pruning:\n$plan")
    assert(plan.contains("PushedFilters: [In(term"),
      s"term filter not pushed to parquet:\n$plan")
    // the read schema must not include the partition column redundantly or
    // drag unused payloads — the scan reads only what the decode needs
    assert(plan.contains("ReadSchema: struct<term:string,n:int,docs:binary"),
      s"blocks scan reads more than the posting payload:\n$plan")
  }

  test("term-stats lookup is bucket-pruned") {
    // idfFor routes through a pruned term_stats scan; verify on the raw frame
    import org.apache.spark.sql.functions._
    val buckets = Seq("machine", "learning")
      .map(IndexBuilder.termBucket(_, backend.stats.nTermBuckets)).distinct
    val df = spark.read.parquet(paths.termStats)
      .filter(col("bucket").isin(buckets: _*) && col("term").isin("machine", "learning"))
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"), s"no pruning:\n$plan")
  }

  test("q_rrf_fusion numbers only the top 200 rows of each run") {
    import spark.implicits._
    val dir = tempDir("graft-planaudit-docs")
    Goldens.chunks.map(c => (c.chunkId, c.text, c.source)).toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    // a window's input is bounded when, below the row-preserving operators
    // on its side, the first operator is a limit of 200
    def limited(p: SparkPlan): Boolean = p match {
      case t: TakeOrderedAndProjectExec => t.limit == 200
      case l: GlobalLimitExec => l.limit == 200
      case _: ProjectExec | _: SortExec | _: FilterExec | _: ShuffleExchangeExec =>
        limited(p.children.head)
      case _ => false
    }
    val plan = SparkEntry.queries("q_rrf_fusion")(spark, dir).queryExecution.sparkPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.length == 2, s"expected one window per run:\n$plan")
    for (w <- windows) assert(limited(w.child), s"window over unbounded input:\n$w")
  }

  test("biblio enrichment joins broadcast the dimension side") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val df = SparkEntry.queries("q_biblio_enrich")(spark, dir)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension join is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus should not shuffle for a 150-row dim:\n$plan")
  }
}
