package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Components

/** Min-label propagation vs a brute-force union-find oracle on seeded
  * random graphs, plus the shapes that stress the loop: chains (diameter =
  * rounds), isolated vertices, self-loops, duplicate/reversed edges.
  */
class ComponentsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(v => v -> find(v)).toMap
  }

  /** The session CacheManager's entries (a private list, read reflectively). */
  private def cacheEntries(): Seq[AnyRef] = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[Seq[AnyRef]]
  }

  private def run(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("x", "y")
    val v = (0L until n).toDF("id")
    Components.minLabel(e, v).as[(Long, Long)].collect().toMap
  }

  test("random graphs match union-find (5 seeds)") {
    for (seed <- 1 to 5) {
      val rng = new scala.util.Random(seed)
      val n = 30 + rng.nextInt(40)
      val edges = Seq.fill(n / 2)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = run(n, edges)
      val want = unionFind(n, edges)
      assert(got == want, s"seed=$seed n=$n")
      assert(got.size == n, "every vertex labeled, isolated ones included")
    }
  }

  test("chain graph: diameter-many rounds still converge to one label") {
    val n = 40
    val edges = (0L until n - 1).map(i => (i + 1, i)) // reversed orientation
    val got = run(n, edges)
    assert(got.values.toSet == Set(0L))
  }

  test("self-loops, duplicate and two-orientation edges are harmless") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (4L, 3L))
    val got = run(6, edges)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
  }

  test("empty edge list labels every vertex with itself") {
    val got = run(5, Nil)
    assert(got == (0L until 5L).map(v => v -> v).toMap)
  }

  test("maxRounds bounds the DIAMETER: d == maxRounds converges, d > refuses") {
    import spark.implicits._
    val chain = (0L until 3L).map(i => (i, i + 1)) // diameter 3 on 4 vertices
    val v = (0L until 4L).toDF("id")
    // exactly at the budget: the confirming round must still fit
    val ok = Components.minLabel(chain.toDF("x", "y"), v, maxRounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(ok.values.toSet == Set(0L))
    // one past the budget: refuse rather than return a wrong labeling
    val ex = intercept[IllegalArgumentException] {
      Components.minLabel(chain.toDF("x", "y"), v, maxRounds = 2)
        .as[(Long, Long)].collect()
    }
    assert(ex.getMessage.contains("diameter"))
  }

  test("minLabel leaves no cache entry behind and restores the session conf") {
    import spark.implicits._
    val unsetKeys = Seq("spark.sql.adaptive.enabled", "spark.sql.join.preferSortMergeJoin")
    val setKey = "spark.sql.autoBroadcastJoinThreshold"
    val chain = (0L until 3L).map(i => (i, i + 1)).toDF("x", "y") // diameter 3
    val v = (0L until 4L).toDF("id")
    // maxRounds 3 converges; 2 is below the diameter and throws
    for (maxRounds <- Seq(3, 2)) {
      unsetKeys.foreach(spark.conf.unset)
      spark.conf.set(setKey, "1234")
      val before = cacheEntries()
      val got = scala.util.Try(
        Components.minLabel(chain, v, maxRounds).as[(Long, Long)].collect().toMap)
      assert(got.map(_.values.toSet).toOption ==
        (if (maxRounds == 3) Some(Set(0L)) else None), s"maxRounds=$maxRounds")
      assert(cacheEntries().filterNot(before.contains).isEmpty, s"maxRounds=$maxRounds")
      unsetKeys.foreach(k => assert(!spark.conf.getAll.contains(k), s"$k maxRounds=$maxRounds"))
      assert(spark.conf.get(setKey) == "1234")
      spark.conf.unset(setKey)
    }
  }
}
