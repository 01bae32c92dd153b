package graft.util

import org.apache.spark.sql.Dataset

/** Registry for intra-query scratch persists.
  *
  * Operators that `persist()` an intermediate frame (shingle sets,
  * span windows, edge/node frames of an iterative job) must keep it
  * cached while the frame they RETURN is being consumed — so they
  * cannot unpersist before returning. Left alone, those blocks
  * accumulate in the block manager for the life of the JVM: a 67-query
  * bench run (or a long-lived server) ends up with hundreds of MB of
  * dead cached partitions, and the resulting heap pressure shows up as
  * multi-× slowdowns in unrelated queries (BENCH_r07: five queries at
  * 2.4–6× their steady state with zero code change).
  *
  * The contract: an operator wraps each scratch persist in
  * [[track]]; the driver (bench harness, verify harness, HTTP request
  * boundary) calls [[drain]] once the query's results are fully
  * consumed. Long-lived memoized artifacts (e.g. trained PQ/IVF
  * codebooks in [[graft.llm.Clustering]]) are deliberately NOT
  * tracked — they are caches, not scratch.
  */
object Scratch {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  private val cleanups = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Register a persisted scratch frame; returns it unchanged. */
  def track[T](ds: Dataset[T]): Dataset[T] = { tracked.add(ds); ds }

  /** Register a `localCheckpoint(true)`-ed scratch frame so its blocks
    * are released deterministically at [[drain]] instead of whenever the
    * driver GC + ContextCleaner get around to it (measured: the path
    * family's per-iteration checkpoints held ~10 GB of stale
    * MEMORY_AND_DISK blocks across a bench sequence). UNLIKE a persist,
    * freeing a local checkpoint is DESTRUCTIVE — the lineage was
    * truncated, so the frame cannot be recomputed after drain. Only
    * track checkpoints whose consumers are fully finished before the
    * harness drains (the existing Scratch contract). */
  def trackCheckpoint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        cleanups.add(() => { val _ = l.rdd.unpersist(false) })
    }
    df
  }

  private val evicted = new java.util.concurrent.ConcurrentLinkedQueue[
    java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]()

  /** Register a local checkpoint a cache has evicted: released at the
    * next [[drain]] like [[trackCheckpoint]], but held only WEAKLY, so
    * nothing here keeps it reachable — where no drain comes (a server
    * between requests), the ContextCleaner frees its blocks once the
    * last query holding the frame lets go, as for any unreferenced RDD. */
  def trackEvicted(df: org.apache.spark.sql.DataFrame): Unit = {
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        evicted.add(new java.lang.ref.WeakReference(l.rdd))
    }
    val _ = evicted.removeIf(_.get == null) // collected: nothing to free
  }

  /** Unpersist every tracked frame (non-blocking); returns how many. */
  def drain(): Int = {
    var n = 0
    var ds = tracked.poll()
    while (ds != null) {
      try { val _ = ds.unpersist(false); n += 1 }
      catch { case _: Throwable => } // session may already be stopped
      ds = tracked.poll()
    }
    var f = cleanups.poll()
    while (f != null) {
      try { f(); n += 1 }
      catch { case _: Throwable => }
      f = cleanups.poll()
    }
    var w = evicted.poll()
    while (w != null) {
      Option(w.get).foreach { rdd =>
        try { val _ = rdd.unpersist(false); n += 1 }
        catch { case _: Throwable => }
      }
      w = evicted.poll()
    }
    n
  }

  // ---- deliberate cross-query caches ---------------------------------
  //
  // A memoized artifact (path step relations, trained codebooks) is
  // NOT scratch: it must survive drain(), and — when it is a local
  // CHECKPOINT — an external force-unpersist destroys data that has no
  // lineage to recompute from. Caches REGISTER their block-holding RDD
  // ids here so harness-level leak assertions can tell "forgot to
  // drain" from "cache, on purpose" and leave the latter alone.

  private val cacheRdds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Declare an RDD id as a deliberate cache (exempt from leak checks). */
  def registerCacheRdd(id: Int): Unit = { val _ = cacheRdds.add(id) }

  /** Withdraw a cache declaration (call when the cache releases it). */
  def deregisterCacheRdd(id: Int): Unit = { val _ = cacheRdds.remove(id) }

  def isCacheRdd(id: Int): Boolean = cacheRdds.contains(id)
}
