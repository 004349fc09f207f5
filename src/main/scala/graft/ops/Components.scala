package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the cluster-election
  * step of a near-dup pipeline (LSH/Jaccard pairs → components → one
  * canonical doc per cluster, reference dedup keeps first:
  * indexing.py:178-204 keep-first over exact groups; this is its
  * transitive-closure generalization for NEAR-dup graphs).
  *
  * Algorithm: iterative min-label propagation — every vertex starts
  * labeled with its own id; each round takes the min of its own and its
  * neighbors' labels; fixpoint = per-component min id, a deterministic
  * canonical label. Rounds = component diameter, and each round is ONE
  * shuffle (join + groupBy-min with map-side partial aggregation).
  *
  * Scale shape: near-dup components are overwhelmingly tiny and
  * shallow (duplicate families, mirror chains), so diameter-bounded
  * rounds beat the O(log n)-round star-contraction algorithms
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) on constant factors; for adversarial long-path graphs that
  * published contraction family is the drop-in upgrade — the seam is
  * this one function. Label frames are persisted each round, with the
  * lineage cut by a localCheckpoint every 8 rounds, and convergence is
  * detected with a narrow exact-sum aggregate over the persisted labels
  * (a scalar action — no per-round join, never a driver-side collect of
  * vertices). The result reads an eager checkpoint of the final labels,
  * so the call leaves no cached frame behind.
  */
object Components {

  /** @param edges     (x, y) undirected pairs, any orientation, dups ok
    * @param vertices  (id) — every vertex to label, isolated ones included
    * @param maxRounds largest component DIAMETER supported; the loop runs
    *                  at most maxRounds+1 iterations (diameter rounds of
    *                  change + one confirming zero-change round)
    * @return (id, lbl) where lbl = min id reachable from id
    */
  def minLabel(edges: DataFrame, vertices: DataFrame,
               maxRounds: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    // checkpoint the (possibly expensive) pair plan ONCE before the
    // symmetrizing union references it twice — relying on exchange reuse
    // to dedupe the two identical subtrees is optimizer luck
    val base = edges.select(col("x").cast("long").as("x"), col("y").cast("long").as("y"))
      .localCheckpoint(true)
    // scale-adaptive loop partitioning (guide §2.2): every frame the loop
    // touches is PAIR-GRAPH-sized, not corpus-sized, so partition by edge
    // count (~1M edge rows per partition) instead of inheriting the
    // session's corpus-scale shuffle.partitions — a tiny dup graph runs
    // single-partition rounds, a web-scale one grows linearly up to the
    // session setting. base.count() is free: the frame was just
    // checkpointed by the line above.
    val sessParts = spark.sessionState.conf.numShufflePartitions
    val parts = math.max(1L, math.min(sessParts.toLong,
      2L * base.count() / 1000000L + 1L)).toInt
    // sym stays hash-partitioned on src and labels on id with the SAME
    // partition count for the whole loop (persist preserves the Catalyst
    // partitioning where localCheckpoint erased it), so each round's
    // src=id join needs no exchange — the only shuffle per round is the
    // one-sided repartition of the propagated frame back to id.
    val sym = base.select(col("x").as("src"), col("y").as("dst"))
      .union(base.select(col("y").as("src"), col("x").as("dst")))
      .distinct()
      .repartition(parts, col("src"))
      .persist()
    // the loop runs over edge-TOUCHED vertices only: a vertex with no edge
    // is its own component and can never change, so shuffling it every
    // round would make each round corpus-sized instead of pair-graph-sized
    // (at web scale the dup graph is a sliver of the corpus); singletons
    // are unioned back once at the end
    var labels = sym.select(col("src").as("id"))
      .distinct()
      .withColumn("lbl", col("id"))
      .repartition(parts, col("id"))
      .persist()
    // labels only ever DECREASE, so the exact decimal sum over the (fixed)
    // vertex set strictly decreases iff any label changed — convergence is
    // a narrow aggregate over the label frame; as the round's FIRST action
    // it also materializes the persist, so each round costs ONE job (round
    // 5 paid an eager localCheckpoint job PLUS the sum job)
    def lblSum(df: DataFrame): java.math.BigDecimal =
      // empty label frame (edge-less graph) sums to NULL -> zero
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = lblSum(labels)
    var changed = true
    var round = 0
    // inside the loop both join sides are already hash-partitioned on the
    // join key with equal partition counts, so the cheapest per-round plan
    // is a zero-exchange shuffled-hash join in ONE job; AQE would split
    // every round into per-exchange query stages and the broadcast planner
    // would add a per-round driver collect+broadcast of the label frame —
    // pure fixed cost at any scale. Scoped + restored around the loop: a
    // key the session had not set is unset again, not pinned to a default.
    val conf = spark.conf
    val loopConf = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "false")
    val sessionSet = conf.getAll // explicitly set keys only, no defaults
    val savedConf = loopConf.map { case (k, _) => k -> sessionSet.get(k) }
    loopConf.foreach { case (k, v) => conf.set(k, v) }
    try {
      while (changed && round <= maxRounds) {
        round += 1
        val prop = sym.join(labels, col("src") === col("id"))
          .select(col("dst").as("id"), col("lbl"))
        var next = labels.select("id", "lbl").union(prop)
          .repartition(parts, col("id"))
          .groupBy("id").agg(min("lbl").as("lbl"))
          .persist()
        val nextSum = lblSum(next)
        // persist (unlike localCheckpoint) keeps the logical lineage, which
        // would otherwise deepen by one join+aggregate per round and make
        // ANALYSIS time quadratic on adversarial deep graphs — truncate it
        // every 8 rounds; execution always reads the round's cache either way
        if (round % 8 == 0) {
          val cut = next.localCheckpoint(true)
          next.unpersist()
          next = cut
        }
        val prevLabels = labels
        changed = nextSum.compareTo(prevSum) != 0
        prevSum = nextSum
        labels = next
        // drop the superseded round's cache instead of letting up to
        // maxRounds+1 label frames pile up in the block manager
        prevLabels.unpersist()
      }
      // non-convergence means the graph's diameter exceeded maxRounds —
      // refuse to return a wrong labeling
      require(!changed,
        s"component diameter exceeds maxRounds=$maxRounds (pathological graph?)")
      // the result reads an eager checkpoint of the final labels, so the
      // loop's cached frames can all be dropped below. One left join
      // instead of an anti-join + union: a vertex with no propagated label
      // is its own component (identical output under the documented
      // contract that `vertices` covers every vertex)
      vertices.select(col("id").cast("long").as("id"))
        .distinct()
        .join(labels.localCheckpoint(true), Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
    } finally {
      savedConf.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
      sym.unpersist()
      labels.unpersist()
    }
  }
}
