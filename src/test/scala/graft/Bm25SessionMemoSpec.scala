package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The BM25 catalog family shares checkpointed temp views (graft_tf,
  * graft_idf, ...) and a memoized avgdl. Temp views belong to one session
  * and are built over one sf dir, so the memo must be re-checked per
  * session and per dir: a hit that skips building the views would either
  * fail (no views in a new session) or score against another dir's views.
  */
class Bm25SessionMemoSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val small = "/root/testdata/sf0.001"
  private val large = "/root/testdata/sf0.01"
  private val family = Seq("q_bm25_topk", "q_rrf_fusion")

  private def rows(s: SparkSession, dir: String, q: String): Seq[Row] =
    SparkEntry.queries(q)(s, dir).collect().toSeq

  test("q_bm25_topk and q_rrf_fusion return equal rows in the same session and in a newSession()") {
    assume(new java.io.File(s"$small/documents.parquet").exists())
    for (q <- family) {
      val first = rows(spark, small, q)
      assert(first.nonEmpty, q)
      assert(rows(spark, small, q) == first, s"$q: second call in the same session")
      assert(rows(spark.newSession(), small, q) == first, s"$q: call in a new session")
    }
  }

  test("switching sf dirs in one session rebuilds the BM25 views") {
    assume(new java.io.File(s"$small/documents.parquet").exists() &&
      new java.io.File(s"$large/documents.parquet").exists())
    for (q <- family) {
      // each dir's reference comes from a session that never saw the other
      val smallRef = rows(spark.newSession(), small, q)
      val largeRef = rows(spark.newSession(), large, q)
      assert(smallRef != largeRef, s"$q: the two dirs must rank differently")
      val s = spark.newSession()
      assert(rows(s, small, q) == smallRef, s"$q: $small first")
      assert(rows(s, large, q) == largeRef, s"$q: then $large")
      assert(rows(s, small, q) == smallRef, s"$q: back to $small")
    }
  }
}
