package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** The semi-naive frontier walk shared by the iterative operators: the
  * bound-endpoint `plus`/`star` walks, their witness variant and
  * `path_dist` in [[graft.core.Paths]], and the landmark BFS of
  * [[graft.operators.Centrality]].
  *
  * Each round is one join plan (Pregelix's superstep): the frontier
  * steps once, the result is anti-joined against everything seen so
  * far, checkpointed and counted exactly. The count picks the next
  * round's join strategy: a frame whose rows fit the driver budget is
  * broadcast ([[LocalFinish.broadcastIfFits]]), so the step relation
  * is probed in place, and a larger one keeps its shuffle. The walk
  * stops when a round finds nothing new, which the anti-join makes
  * certain on any finite graph, so it needs no depth cap.
  */
object Fixpoint {

  /** Materialize + truncate lineage, and register the blocks for
    * deterministic release at the harness's `Scratch.drain()`. Every
    * intermediate an iterative loop pins (frontiers, step relations,
    * per-round deltas) goes through here: left to the driver GC +
    * ContextCleaner, those MEMORY_AND_DISK blocks accumulated to ~10 GB
    * peak heap over a bench sequence (BENCH_r08 diagnostics,
    * woql_path_plus_alt 3.7 s GC per run). Blocks are serialized: the
    * deserialized default held 10-13 GB of traced heap across a bench
    * sequence and full-GC pauses were most of woql_path_plus_alt's
    * in-sequence cost (BENCH_r09 diag: 8.3 s GC of a 16.5 s double-rep).
    * The decode cost on re-read is per-block streaming, not per-round. */
  def cp(df: DataFrame): DataFrame =
    Scratch.trackCheckpoint(FrameCache.checkpoint(df))

  /** Lazy union of per-round delta chunks. The accumulated set is only
    * ever READ (anti-joins, the final result) — re-checkpointing the
    * whole union every round re-materializes O(total) blocks per
    * iteration (O(rounds × total) peak). Keeping it a union view over
    * the already-checkpointed chunks makes peak residency O(total). */
  def unionAll(chunks: Seq[DataFrame]): DataFrame =
    chunks.reduceLeft(_ unionByName _)

  /** Every row reachable from `seeds` by repeated `step`, each kept once
    * per value of `keys`: the walk's identity, e.g. `n`, `(orig, n)` or
    * `(l, node)`. Columns of `seeds` outside `keys` ride along as a
    * payload (a witness path); the row of a key's first round wins.
    *
    * `step` maps a frontier to its one-step successors, one row per
    * key and with the frontier's columns. With `seedsSeen` the seeds
    * are round 0 of the result (zero-length paths); without, they only
    * start the walk and are in the result when a step re-reaches them.
    * With `dist`, every row also carries the round that first reached
    * it as a `dist` column, which BFS order makes the fewest steps.
    * `maxRounds` caps the depth for the operators that define one. */
  def walk(seeds: DataFrame, keys: Seq[String], seedsSeen: Boolean,
           dist: Boolean = false, maxRounds: Int = Int.MaxValue)
          (step: DataFrame => DataFrame): DataFrame = {
    val keyCols = keys.map(col)
    def tagged(df: DataFrame, round: Int): DataFrame =
      if (dist) df.withColumn("dist", lit(round.toLong)) else df
    val seed = cp(seeds.dropDuplicates(keys))
    val chunks = scala.collection.mutable.ArrayBuffer(tagged(seed, 0))
    val from = if (seedsSeen) 0 else 1 // chunks(from..) are seen and returned
    var frontier = seed
    var frontierRows = seed.count()
    var seenRows = if (seedsSeen) frontierRows else 0L
    var round = 0
    while (frontierRows > 0 && round < maxRounds) {
      round += 1
      val stepped = step(LocalFinish.broadcastIfFits(frontier, frontierRows))
      val seen = chunks.drop(from).map(_.select(keyCols: _*))
      val fresh =
        if (seen.isEmpty) stepped
        else stepped.join(LocalFinish.broadcastIfFits(unionAll(seen.toSeq), seenRows),
          keys, "left_anti")
      val next = cp(tagged(fresh, round))
      frontierRows = next.count()
      if (frontierRows > 0) {
        chunks += next
        seenRows += frontierRows
        frontier = if (dist) next.drop("dist") else next
      }
    }
    if (chunks.length > from) unionAll(chunks.drop(from).toSeq)
    else chunks.head.limit(0)
  }
}
