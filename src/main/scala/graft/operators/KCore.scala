package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-core decomposition by iterative peeling (Seidman 1983; the
  * distributed formulation is the standard Pregel-style peel): delete
  * every node of degree < k, which lowers neighbors' degrees, and
  * repeat to fixpoint. The surviving subgraph is the k-core — the
  * standard community-density / graph-cleaning primitive (spam and
  * long-tail pruning before expensive graph ML).
  *
  * Per round: one degree aggregate (map-side partial) + two semi-joins
  * of the edge list against the surviving nodes — all equi-joins,
  * work ∝ |edges| per round, rounds ≤ the peel depth. Each round's
  * edge list is localCheckpoint'ed SERIALIZED (the [[graft.core.Paths]]
  * lesson: deserialized row caches are what old-gen GC chokes on) and
  * the previous round's blocks released eagerly, so peak residency is
  * one edge list, not `rounds` of them.
  *
  * Termination is ASSERTED: if the peel hasn't reached a fixpoint in
  * `maxRounds`, this throws rather than returning a partial core that
  * would silently diverge from the fixed-unroll oracle. */
object KCore {

  /** Surviving (node, deg) of the k-core — deg measured INSIDE the
    * core. `edges` is undirected (a, b); dups/self-loops removed. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 6): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    var e = edges.where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    var prev: DataFrame = null
    var n = e.count()
    var changed = true
    var r = 0
    while (changed && r < maxRounds) {
      r += 1
      val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      // alive is ≤ 2·|e| rows (the exact edge count comes free from
      // each round's convergence check); when that fits, both semi-joins
      // probe the checkpointed edge blocks map-side, so a round pays one
      // exchange (the degree aggregate) instead of three
      val alive = graft.util.LocalFinish.broadcastIfFits(
        deg.where(col("deg") >= k).select(col("v")), 2 * n)
      val e2 = e
        .join(alive.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
      val n2 = e2.count()
      changed = n2 != n
      if (prev != null) graft.util.Scratch.trackCheckpoint(prev)
      prev = e
      e = e2; n = n2
    }
    if (changed) throw new IllegalStateException(
      s"k-core peel did not converge in $maxRounds rounds — raise maxRounds " +
        "(the oracle unrolls exactly this many)")
    if (prev != null) graft.util.Scratch.trackCheckpoint(prev)
    graft.util.Scratch.trackCheckpoint(e)
    e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }
}
