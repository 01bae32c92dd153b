package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.util.{FrameCache, Scratch}

/** The engine's LRU of checkpointed frames: what eviction does to an
  * entry's blocks and to its cache declaration. */
class FrameCacheSpec extends AnyFunSuite {
  import TestSpark._

  private def rddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.head

  test("an evicted entry keeps its blocks until the next drain, then frees them") {
    FrameCache.clear()
    val frames = (0 to 8).map { i =>
      FrameCache.put(spark, s"frame-cache-spec|$i", FrameCache.checkpoint(spark.range(i + 1).toDF()))
    }
    val first = rddId(frames.head)
    // the ninth entry evicted the first: no longer a declared cache, but
    // not unpersisted under a query that may still read it
    assert(FrameCache.get(spark, "frame-cache-spec|0").isEmpty)
    assert(!Scratch.isCacheRdd(first))
    assert(spark.sparkContext.getPersistentRDDs.contains(first))
    assert(frames.head.count() == 1)
    frames.tail.foreach(f => assert(Scratch.isCacheRdd(rddId(f))))
    Scratch.drain()
    var waits = 0
    while (spark.sparkContext.getPersistentRDDs.contains(first) && waits < 50) {
      Thread.sleep(20); waits += 1
    }
    assert(!spark.sparkContext.getPersistentRDDs.contains(first))
    // the entries still cached are untouched by the drain
    assert(FrameCache.get(spark, "frame-cache-spec|8").map(_.count()).contains(9L))
    FrameCache.clear()
  }
}
