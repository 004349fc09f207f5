package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.{Biblio, ChunkMeta, ChunkRow}
import graft.query._

/** ANN preselect (brute force + multi-probe LSH + run-D wiring) and the
  * DOI-metadata TTL freshness split.
  */
class AnnFreshnessSpec extends AnyFunSuite with SparkTestSession.TempDirs {

  private lazy val spark = SparkTestSession.spark

  /** Deterministic unit embedding from a seed: clustered, so LSH buckets
    * carry signal (centroid + small per-item jitter).
    */
  private def embOf(cluster: Int, item: Int, dim: Int = 32): Array[Float] = {
    val rng = new scala.util.Random(cluster * 1000003L)
    val centroid = Array.fill(dim)(rng.nextGaussian())
    val jrng = new scala.util.Random(cluster * 7919L + item)
    val v = centroid.map(c => (c + 0.15 * jrng.nextGaussian()).toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  private val nClusters = 4
  private val perCluster = 50
  private lazy val embDF = {
    import spark.implicits._
    (0 until nClusters).flatMap { c =>
      (0 until perCluster).map { i =>
        (c.toLong * perCluster + i, embOf(c, i).toSeq)
      }
    }.toDF("chunk_id", "embedding")
  }

  private val provider = new EmbeddingProvider {
    def embed(text: String): Option[Array[Float]] = Some(embOf(0, text.hashCode & 15))
    def embedQuery(query: String): Option[Array[Float]] =
      Some(embOf(math.abs(query.hashCode) % nClusters, 999))
  }

  test("LSH multi-probe preselect finds what brute force finds") {
    val brute = new BruteForceAnn(spark, embDF, provider)
    // 8 planes: bucket granularity matched to the 200-vector corpus (16
    // planes give 65k buckets — nearly every vector alone, and Hamming-1
    // probes cannot reach cluster mates)
    val lsh = new SparkAnnLsh(spark, embDF, provider, nPlanes = 8, probes = 36)
    for (q <- Seq("alpha", "beta", "gamma", "delta")) {
      val exact = brute.preselect(q, 10)
      val approx = lsh.preselect(q, 10)
      assert(exact.length == 10 && approx.nonEmpty)
      // clustered embeddings: the query's cluster shares buckets, so
      // multi-probe recall of the exact top-10 must be high
      val recall = approx.toSet.intersect(exact.toSet).size / 10.0
      assert(recall >= 0.6, s"'$q' recall $recall: exact=$exact approx=$approx")
      assert(approx.head == exact.head, s"'$q' top-1 must survive LSH")
    }
  }

  test("q_ann_multiprobe returns non-empty candidates on the testdata") {
    // The testdata embeddings are uniform-random (no cluster structure),
    // so LSH recall there is structurally near zero for ANY probe budget —
    // measured: 16-plane single-bucket finds 0 candidates at 500 vectors.
    // This query verifies the multi-probe MECHANICS (8-plane buckets +
    // Hamming-1/2 probe set, oracle-matched in both dialects) and that
    // probing turns the empty single-bucket result into real candidates;
    // the recall property is asserted below on clustered embeddings,
    // the regime LSH is for.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    import spark.implicits._
    val approx = SparkEntry.queries("q_ann_multiprobe")(spark, dir)
      .select("vec_id").as[Long].collect().toSeq
    assert(approx.nonEmpty, "Hamming-1/2 probes must surface candidates")
    assert(approx.length <= 5)
  }

  test("ANN catalog entries return no rows when vec_id 0 is absent") {
    // the oracles CROSS JOIN an empty query-vector CTE and return nothing;
    // the entries must do the same instead of failing on the missing row
    import spark.implicits._
    val dir = tempDir("graft-noquery")
    val rng = new scala.util.Random(11)
    (1 until 40).map(i => (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = spark.read.parquet(s"${SparkEntryExtra.FixturesBase}/dims/ivf_centroids.parquet")
    val outs = Seq("q_ann_lsh", "q_ann_multiprobe").map(q => q -> SparkEntry.queries(q)(spark, dir)) :+
      ("q_ann_ivf" -> SparkEntryExtra.annIvf(vecs, cents))
    for ((q, out) <- outs) {
      assert(out.columns.toSeq == Seq("vec_id", "cos"), q)
      assert(out.collect().isEmpty, q)
    }
  }

  test("q_ann_ivf ranks zero-norm and NaN vectors as the oracle's window does") {
    // the oracle's CROSS JOIN + row_number form in Spark SQL; try_divide is
    // the oracle's `/` (NULL on a zero divisor, where ANSI `/` throws)
    import spark.implicits._
    def dot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    def norm(a: String) =
      s"sqrt(aggregate(transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v))"
    def windowForm(vecs: String, cents: String) = spark.sql(
      s"""WITH sims AS (SELECT e.vec_id, c.cid,
              try_divide(${dot("e.embedding", "c.embedding")},
                ${norm("e.embedding")} * ${norm("c.embedding")}) AS sim
            FROM $vecs e CROSS JOIN $cents c),
          rk AS (SELECT vec_id, cid,
              row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk
            FROM sims),
          asg AS (SELECT vec_id, cid FROM rk WHERE rk = 1),
          probes AS (SELECT cid FROM rk WHERE vec_id = 0 AND rk <= 2),
          q AS (SELECT embedding AS qe FROM $vecs WHERE vec_id = 0),
          cand AS (SELECT e.vec_id,
              try_divide(${dot("e.embedding", "q.qe")},
                ${norm("e.embedding")} * ${norm("q.qe")}) AS cos
            FROM $vecs e JOIN asg ON asg.vec_id = e.vec_id CROSS JOIN q
            WHERE asg.cid IN (SELECT cid FROM probes) AND e.vec_id <> 0)
          SELECT vec_id, round(cos, 4) AS cos FROM cand
          ORDER BY cos DESC, vec_id LIMIT 5""")
    val nan = Float.NaN
    // cid 3 has zero norm: every sim to it is NULL and ranks last
    Seq((0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)),
        (2, Array(0f, 0f, 1f, 0f)), (3, Array(0f, 0f, 0f, 0f)))
      .toDF("cid", "embedding").createOrReplaceTempView("ivf_nan_cents")
    val rest = Seq((1L, Array(1f, 0.2f, 0f, 0f)), (2L, Array(0.9f, 0f, 0.1f, 0f)),
      (3L, Array(0.1f, 1f, 0f, 0f)), (4L, Array(0f, 0f, 0f, 0f)),
      (5L, Array(nan, 0f, 0f, 0f)), (6L, Array(0f, 0.1f, 1f, 0f)))
    // vec 4 (zero norm): NULL sims -> lowest cid, NULL cos sorts last;
    // vec 5 (NaN): NaN sims rank greatest -> lowest cid, NaN cos sorts first
    val cases = Seq(
      "unit query" -> ((0L, Array(1f, 0.1f, 0f, 0f)) +: rest),
      "zero-norm query" -> ((0L, Array(0f, 0f, 0f, 0f)) +: rest))
    for ((name, rows) <- cases) {
      val vecs = rows.toDF("vec_id", "embedding")
      vecs.createOrReplaceTempView("ivf_nan_vecs")
      val got = SparkEntryExtra.annIvf(vecs, spark.table("ivf_nan_cents"))
        .collect().map(_.toString).toSeq
      val want = windowForm("ivf_nan_vecs", "ivf_nan_cents").collect().map(_.toString).toSeq
      assert(want.exists(_.contains("NaN")) && want.exists(_.contains("null")), s"$name: $want")
      assert(got == want, s"$name: $got vs the window form $want")
    }
  }

  test("multi-probe LSH recall@5 >= 0.8 vs brute force on clustered embeddings") {
    val brute = new BruteForceAnn(spark, embDF, provider)
    val lsh = new SparkAnnLsh(spark, embDF, provider, nPlanes = 8, probes = 36)
    var hits = 0; var total = 0
    for (q <- Seq("alpha", "beta", "gamma", "delta", "epsilon")) {
      val exact = brute.preselect(q, 5)
      val approx = lsh.preselect(q, 5)
      hits += approx.toSet.intersect(exact.toSet).size
      total += 5
    }
    val recall = hits.toDouble / total
    assert(recall >= 0.8, s"aggregate recall@5 $recall < 0.8")
  }

  test("run D uses ANN preselect for candidates (out-of-pool ids scored)") {
    val chunks = (0 until 30).map { i =>
      ChunkRow(i.toLong, i.toLong, s"s$i.pdf", 1, 0,
        s"document number $i about ${if (i % 2 == 0) "spark engines" else "ocean water"}",
        ChunkMeta())
    }
    val backend = new LocalBackend(chunks.toIndexedSeq)
    val fixedAnn = new AnnPreselector {
      def preselect(query: String, topn: Int): Seq[Long] = Seq(29L, 3L, 11L)
    }
    val cfg = PipelineConfig(semanticEnabled = true, annEnabled = true, annTopn = 3,
      rrfEnabled = false, heuristicEnabled = false, robustEnabled = false,
      mmrEnabled = false, diversityEnabled = false)
    val out = Pipeline.searchTopK(backend, "spark engines", cfg, ann = Some(fixedAnn))
    // run A = pool, run D = the ANN candidates (provider absent ->
    // candidate order preserved, reference fallback)
    assert(out.runs.length == 2)
    assert(out.runs(1) == List(29L, 3L, 11L))
  }

  test("bonusedScoresFor returns input order and drops unknown ids") {
    val chunks = (0 until 5).map(i =>
      ChunkRow(i.toLong, i.toLong, s"s$i.pdf", 1, 0, s"text spark $i", ChunkMeta()))
    val b = new LocalBackend(chunks.toIndexedSeq)
    val got = b.bonusedScoresFor("spark", "spark", Seq(3L, 99L, 1L), PipelineConfig())
    assert(got.map(_._1.chunkId) == Seq(3L, 1L))
    assert(got.forall(_._2 > 0.0))
  }

  test("q_ann_recall catalog query: multi-probe recall@5 >= 0.8 on the committed fixture") {
    // the driver-oracle row's VALUE is the recall; this pins the quality
    // floor on the engine side (the DuckDB mirror pins it via hash match)
    val row = SparkEntry.queries("q_ann_recall")(spark, "/root/testdata/sf0.001").head()
    assert(row.getInt(0) == 5)
    assert(row.getDouble(1) >= 0.8, s"recall@5 = ${row.getDouble(1)}")
  }

  test("DOI-metadata TTL split: fresh within ttl, stale beyond or null") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-06-01 00:00:00")
    def ts(daysAgo: Int) = new java.sql.Timestamp(t0.getTime - daysAgo * 86400000L)
    val dim = Seq(
      ("10.1/a", Option(ts(1))),
      ("10.1/b", Option(ts(29))),
      ("10.1/c", Option(ts(31))),
      ("10.1/d", None)
    ).toDF("doi", "updated_at")
    val (fresh, stale) = Biblio.splitByFreshness(dim, t0, ttlDays = 30)
    assert(fresh.select("doi").as[String].collect().toSet == Set("10.1/a", "10.1/b"))
    assert(stale.select("doi").as[String].collect().toSet == Set("10.1/c", "10.1/d"))
  }
}
