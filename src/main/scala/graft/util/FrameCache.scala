package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one cross-query cache of derived frames, for artifacts
  * of an immutable graph that a long-running engine would otherwise
  * rebuild on every query: the path engine's step relations (keyed by
  * [[graft.core.Ctx.graphKey]] + pattern), a commit's folded graph and
  * its subclass closure (keyed by `<store root>@<commit id>`). Every key
  * is content-stable — an EAV cache dir or a content-addressed commit
  * id — so a hit can never serve stale rows.
  *
  * Entries are SparkContext-scoped: keys are prefixed with the
  * context's applicationId + startTime, because cached blocks live in
  * that context's block manager (sharing across sessions of one context
  * is correct; a restarted context can never be served a frame bound
  * to a stopped one).
  *
  * Bounded: an LRU of [[MaxEntries]] frames, and callers admit only
  * frames of at most [[maxRows]] rows (at 100 TB a hub-heavy relation
  * or a long history must not pin executor memory). A local
  * checkpoint admitted here is declared to [[Scratch]] as a deliberate
  * cache, so leak checks leave it alone; driver-local frames (a
  * `LocalRelation`) hold no blocks and just ride the same LRU. */
object FrameCache {
  private val MaxEntries = 8

  /** Largest frame, in rows, a caller may admit. */
  def maxRows: Long = sys.props.get("graft.path.relCacheMaxRows")
    .orElse(sys.env.get("GRAFT_PATH_RELCACHE_MAX_ROWS"))
    .map(_.toLong).getOrElse(20000000L)

  private val lru = new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, DataFrame]): Boolean =
      // EVICTION MUST NOT UNPERSIST on the spot: a query may still be
      // joining against this frame, and a local checkpoint has no
      // lineage to recompute from. Withdraw the cache declaration and
      // hand the blocks, weakly held, to the next Scratch.drain() (run
      // once the queries in flight are consumed); a process that never
      // drains leaves them to the ContextCleaner once nothing
      // references the frame.
      if (size() > MaxEntries) {
        deregister(e.getValue); Scratch.trackEvicted(e.getValue); true
      } else false
  }

  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
  private def deregister(df: DataFrame): Unit =
    rddIds(df).foreach(Scratch.deregisterCacheRdd)
  private def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        Scratch.deregisterCacheRdd(l.rdd.id)
        val _ = l.rdd.unpersist(false)
    }

  private def scoped(spark: SparkSession, key: String): String =
    s"${spark.sparkContext.applicationId}@${spark.sparkContext.startTime}|$key"

  /** Materialize `df` and truncate its lineage, in serialized blocks:
    * compact byte arrays instead of millions of row objects. */
  def checkpoint(df: DataFrame): DataFrame =
    df.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  def get(spark: SparkSession, key: String): Option[DataFrame] =
    synchronized { Option(lru.get(scoped(spark, key))) }

  /** Cache `df` under `key` and return the frame to serve. Callers build
    * OUTSIDE any lock — holding one through a multi-second Spark job
    * would serialize every query engine-wide — so two callers may race
    * on one key: the first `put` wins and the loser's copy is released
    * (nobody else holds it). */
  def put(spark: SparkSession, key: String, df: DataFrame): DataFrame = synchronized {
    val k = scoped(spark, key)
    Option(lru.get(k)) match {
      case Some(winner) => release(df); winner
      case None =>
        rddIds(df).foreach(Scratch.registerCacheRdd)
        lru.put(k, df); df
    }
  }

  def getOrPut(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    get(spark, key).getOrElse(put(spark, key, build))

  /** Drop every entry. Test isolation and session teardown only: the
    * caller guarantees no query is in flight, so unpersist is eager. */
  def clear(): Unit = synchronized {
    lru.values().forEach(release(_))
    lru.clear()
  }
}
