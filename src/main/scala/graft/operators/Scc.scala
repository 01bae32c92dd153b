package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.util.LocalFinish

/** Strongly connected components of a directed graph, labeled by each
  * component's LEAST member id — the deterministic analogue of
  * [[graft.llm.Dedup.clustersFromPairs]]'s undirected min-label law,
  * so the result is oracle-checkable row for row.
  *
  * Algorithm: forward-backward reachability with descent (Fleischer,
  * Hendrickson & Pinar 2000 — the standard distributed SCC
  * decomposition; Tarjan's stack DFS is inherently sequential and has
  * no Spark shape) plus trimming:
  *
  *  1. TRIM to fixpoint: a node with no in-edge or no out-edge inside
  *     the surviving subgraph is its own singleton SCC — label it with
  *     itself and drop it. One degree semi-join per pass, work ∝ |E|;
  *     this collapses the DAG portion (for an FK-shaped graph, almost
  *     everything) without any reachability work, which is what makes
  *     FW-BW viable on graphs whose SCC count is large: the pivot loop
  *     only ever runs on the cyclic core.
  *  2. LOCAL-CORE FAST PATH: once the surviving cyclic core's edge
  *     list, counted, fits the driver budget ([[graft.util.LocalFinish]]:
  *     rows × row size against a fixed share of the driver heap),
  *     collect it and finish with one driver-side iterative Tarjan
  *     pass — O(V+E), a single bounded collect. Trim stays fully
  *     distributed, so at 100 TB the collect is the cyclic core, not
  *     the graph; cores past the budget take path 3.
  *  3. MULTI-PIVOT FW-BW DESCENT: one pivot per WEAKLY-connected
  *     component of the surviving core (min-label WCC), so pivots are
  *     provably in distinct SCCs and ALL forward/backward searches
  *     advance together as label-keyed multi-source BFS. SCC(l) =
  *     F(l) ∩ B(l); the pivot is its WCC's least node and belongs to
  *     its own SCC, so the pivot IS the least member. After each
  *     extraction the residual of every WCC is partitioned into
  *     F∖SCC, B∖SCC and the remainder — each of which is SCC-CLOSED
  *     (an SCC is strongly connected, so it cannot straddle a
  *     reachability boundary) — and every edge crossing regions is
  *     dropped. That is the classic FW-BW descent step: each round
  *     SPLITS every surviving WCC, so rounds do not scale with the
  *     SCC count (a bipartite family of cross-linked 2-cycles, which
  *     would take one round per SCC without the split, finishes in
  *     two).
  *
  * Rounds are ASSERTED to make progress (every round extracts at
  * least one SCC per WCC, so the live node count strictly decreases)
  * and BOUNDED dynamically by the core size at descent start — the
  * true worst case — rather than a guessed constant; `maxHops` still
  * hard-bounds each BFS ([[KCore]]'s law: throw, never return a
  * partial labeling).
  *
  * 100 TB shape: every distributed step is an equi-join or aggregate
  * on the edge list (shuffle on node id); no step materializes
  * anything larger than |V| + |E|, frontiers shrink monotonically,
  * and the surviving edge list is re-checkpointed serialized per
  * round so peak block residency is one edge list regardless of
  * round count. The only collect is the budget-gated core.
  */
object Scc {

  /** (node, component) for every endpoint of `edges` — `component` is
    * the least node id of the member's SCC. `edges` columns: src, dst;
    * node ids must be naturally ordered (string / numeric). */
  def components(edges: DataFrame, maxPivotRounds: Int = 32,
                 maxHops: Int = 64, maxTrimRounds: Int = 32): DataFrame = {
    val spark = edges.sparkSession
    def ckpt(df: DataFrame): DataFrame = graft.util.Scratch.trackCheckpoint(
      df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER))

    var e = ckpt(edges.where(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct())
    val nodeType = e.schema("src").dataType
    val labeled = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var active = ckpt(e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct())
    var nActive = active.count()

    // broadcast hint once the surviving set is driver-known small —
    // every inner structure (live sets, labels, frontiers) is bounded
    // by the cyclic core, which trim counts every round
    val bcCap = 2000000L
    def bc(df: DataFrame, n: Long): DataFrame =
      if (n <= bcCap) broadcast(df) else df

    // trim singleton SCCs (no in- or no out-edge in the live subgraph)
    // to fixpoint. ONE degree aggregation per round (max(out), max(in)
    // over the tagged endpoint union) replaces the two distincts + two
    // semi-joins of the first cut; the edge restrict broadcast-gates
    // on the freshly counted live set.
    def trim(): Unit = {
      var changed = true
      var r = 0
      while (changed && nActive > 0 && r < maxTrimRounds) {
        r += 1
        val deg = e.select(col("src").as("v"), lit(1).as("o"), lit(0).as("i"))
          .unionByName(e.select(col("dst").as("v"), lit(0).as("o"), lit(1).as("i")))
          .groupBy(col("v")).agg(max(col("o")).as("o"), max(col("i")).as("i"))
        val live = ckpt(deg.where(col("o") === 1 && col("i") === 1)
          .select(col("v")))
        val nLive = live.count()
        changed = nLive != nActive
        if (changed) {
          labeled += active.join(bc(live, nLive), Seq("v"), "left_anti")
            .select(col("v").as("node"), col("v").as("component"))
          active = live
          nActive = nLive
          e = ckpt(e
            .join(bc(live.select(col("v").as("src")), nLive), Seq("src"), "left_semi")
            .join(bc(live.select(col("v").as("dst")), nLive), Seq("dst"), "left_semi"))
        }
      }
      if (changed && nActive > 0) throw new IllegalStateException(
        s"SCC trim did not converge in $maxTrimRounds rounds")
    }

    // min-label WCC of the live core, inlined with broadcast hints (the
    // generic clustersFromPairs engine assumes corpus-scale inputs and
    // spent 5+ s on a 13k-node core): labels fold to the least member
    // by synchronous propagation over the undirected edge view, one
    // small aggregation + one broadcast join per round, fixpoint
    // detected by an isEmpty probe on the changed set. Returns the
    // full (v, l) map — the descent split needs every node's WCC.
    def wccLabels(): DataFrame = {
      var lbl = ckpt(active.select(col("v"), col("v").as("l")))
      var r = 0
      var changed = true
      while (changed) {
        r += 1
        if (r > maxHops) throw new IllegalStateException(
          s"SCC pivot WCC did not converge in $maxHops rounds")
        val und = e.select(col("src").as("a"), col("dst").as("b"))
          .unionByName(e.select(col("dst").as("a"), col("src").as("b")))
        val nb = und.join(bc(lbl.select(col("v").as("a"), col("l")), nActive),
          Seq("a")).select(col("b").as("v"), col("l"))
        val upd = ckpt(lbl.unionByName(nb)
          .groupBy(col("v")).agg(min(col("l")).as("l")))
        changed = !upd.join(
            bc(lbl.select(col("v"), col("l").as("l0")), nActive), Seq("v"))
          .where(col("l") =!= col("l0")).isEmpty
        lbl = upd
      }
      lbl
    }

    // MULTI-SOURCE labeled reachability, BOTH DIRECTIONS FUSED: the
    // frontier carries (l, node, dir) with dir ∈ {f, b}, so every
    // pivot's forward AND backward BFS advance in the same per-hop
    // job — one checkpoint + one emptiness probe per hop total.
    // Broadcast hints on the frontier/seen sides (core-bounded,
    // driver-counted): each hop is two broadcast joins + one small
    // exchange, never three shuffles.
    def reachBoth(seeds: DataFrame): DataFrame = {
      var frontier = ckpt(seeds
        .select(col("l"), col("l").as("node"), lit("f").as("dir"))
        .unionByName(seeds
          .select(col("l"), col("l").as("node"), lit("b").as("dir"))))
      var seen = frontier
      var h = 0
      var exhausted = false
      while (!exhausted) {
        h += 1
        if (h > maxHops) throw new IllegalStateException(
          s"SCC reachability exceeded $maxHops hops")
        val fwd = bc(frontier.where(col("dir") === "f"), nActive)
          .join(e, col("node") === col("src"))
          .select(col("l"), col("dst").as("node"), col("dir"))
        val bwd = bc(frontier.where(col("dir") === "b"), nActive)
          .join(e, col("node") === col("dst"))
          .select(col("l"), col("src").as("node"), col("dir"))
        val next = ckpt(fwd.unionByName(bwd).distinct()
          .join(bc(seen, 2 * nActive), Seq("l", "node", "dir"), "left_anti"))
        if (next.isEmpty) exhausted = true
        else {
          frontier = next
          seen = ckpt(seen.unionByName(next))
        }
      }
      seen
    }

    // the budget-gated driver finish: collect the core's edge list and
    // run iterative Tarjan. Returns true when it ran (core in budget).
    // Every core node has an out-edge, so a core of more nodes than the
    // budget's edge rows cannot fit and skips the edge count.
    def tryLocalCore(): Boolean = {
      if (!LocalFinish.fits(e.schema, nActive) ||
        !LocalFinish.fits(e.schema, e.count())) return false
      val es = e.collect().map(r => (r.get(0), r.get(1)))
      val rows = tarjanLocal(es).map { case (n0, c0) => Row(n0, c0) }.toSeq
      val sch = StructType(Seq(
        StructField("node", nodeType), StructField("component", nodeType)))
      labeled += spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 500000)),
        sch)
      true
    }

    trim()
    val coreAtDescentStart = nActive
    var round = 0
    while (nActive > 0) {
      if (tryLocalCore()) { nActive = 0 }
      else {
        round += 1
        // dynamic safety bound: each round extracts ≥ 1 node per WCC,
        // so rounds can never exceed the core size at descent start
        // (the guessed constant the r15 advisor flagged threw on valid
        // cross-linked-cycle families); maxPivotRounds survives as a
        // floor for callers that want an earlier tripwire on tiny cores
        if (round > math.max(maxPivotRounds.toLong, coreAtDescentStart))
          throw new IllegalStateException(
            s"SCC descent exceeded its dynamic round bound " +
              s"($coreAtDescentStart) — progress assertion should have " +
              "fired first; this is a bug")
        val lbl = wccLabels()
        val pivots = ckpt(lbl.select(col("l")).distinct())
        val both = reachBoth(pivots)
        val scc = ckpt(both.where(col("dir") === "f")
          .select(col("l"), col("node"))
          .join(bc(both.where(col("dir") === "b")
            .select(col("l"), col("node")), nActive),
            Seq("l", "node"), "left_semi"))
        labeled += scc.select(col("node"), col("l").as("component"))
        active = ckpt(active.join(scc.select(col("node").as("v")),
          Seq("v"), "left_anti"))
        val prevActive = nActive
        nActive = active.count()
        if (nActive >= prevActive) throw new IllegalStateException(
          "SCC descent made no progress — every round must extract at " +
            "least one SCC per weakly-connected component")
        if (nActive > 0) {
          // FW-BW DESCENT SPLIT: residual nodes of each WCC fall into
          // F∖SCC, B∖SCC or the remainder — all SCC-closed — so an
          // edge crossing regions can never be inside an SCC. Dropping
          // those edges splits every WCC before the re-trim, which is
          // what keeps rounds from scaling with the SCC count.
          val fv = both.where(col("dir") === "f")
            .select(col("node").as("v"), lit(1).as("inf"))
          val bv = both.where(col("dir") === "b")
            .select(col("node").as("v"), lit(1).as("inb"))
          val part = ckpt(lbl
            .join(scc.select(col("node").as("v")), Seq("v"), "left_anti")
            .join(fv, Seq("v"), "left").join(bv, Seq("v"), "left")
            .select(col("v"), concat(col("l").cast("string"),
              when(col("inf").isNotNull, lit("|f"))
                .when(col("inb").isNotNull, lit("|b"))
                .otherwise(lit("|r"))).as("pk")))
          e = ckpt(e
            .join(bc(part.select(col("v").as("src"), col("pk").as("pks")),
              nActive), Seq("src"))
            .join(bc(part.select(col("v").as("dst"), col("pk").as("pkd")),
              nActive), Seq("dst"))
            .where(col("pks") === col("pkd"))
            .select(col("src"), col("dst")))
          trim()
        }
      }
    }
    if (labeled.isEmpty) spark.emptyDataFrame
      .select(lit("").as("node"), lit("").as("component")).limit(0)
    else labeled.reduce(_ unionByName _)
  }

  /** Iterative (explicit-stack) Tarjan over a collected core: O(V+E),
    * one pass, labels = least member per SCC. Node ids compare in
    * Spark's order ([[LocalFinish.compare]]: strings as UTF-8 bytes) —
    * the order Spark's `min` gives the distributed path, so both paths
    * agree row for row. */
  private[graft] def tarjanLocal(
      edges: Array[(Any, Any)]): Iterator[(Any, Any)] = {
    val idx = new java.util.HashMap[Any, Integer]()
    val nodes = new scala.collection.mutable.ArrayBuffer[Any]()
    def id(v: Any): Int = {
      val got = idx.get(v)
      if (got != null) got.intValue()
      else { val i = nodes.length; idx.put(v, i); nodes += v; i }
    }
    val es = edges.map { case (a, b) => (id(a), id(b)) }
    val n = nodes.length
    val start = new Array[Int](n + 1)
    es.foreach { case (a, _) => start(a + 1) += 1 }
    var i = 0
    while (i < n) { start(i + 1) += start(i); i += 1 }
    val adj = new Array[Int](es.length)
    val fill = java.util.Arrays.copyOf(start, n)
    es.foreach { case (a, b) => adj(fill(a)) = b; fill(a) += 1 }

    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val comp = Array.fill(n)(-1)
    val stack = new scala.collection.mutable.ArrayBuffer[Int]()
    val frameV = new scala.collection.mutable.ArrayBuffer[Int]()
    val frameC = new scala.collection.mutable.ArrayBuffer[Int]()
    var counter = 0
    var nComp = 0
    var root = 0
    while (root < n) {
      if (index(root) == -1) {
        index(root) = counter; low(root) = counter; counter += 1
        stack += root; onStack(root) = true
        frameV += root; frameC += start(root)
        while (frameV.nonEmpty) {
          val v = frameV(frameV.length - 1)
          var c = frameC(frameC.length - 1)
          var descended = false
          while (c < start(v + 1) && !descended) {
            val w = adj(c)
            if (index(w) == -1) {
              frameC(frameC.length - 1) = c + 1
              index(w) = counter; low(w) = counter; counter += 1
              stack += w; onStack(w) = true
              frameV += w; frameC += start(w)
              descended = true
            } else {
              if (onStack(w) && low(v) > index(w)) low(v) = index(w)
              c += 1
            }
          }
          if (!descended) {
            frameV.remove(frameV.length - 1)
            frameC.remove(frameC.length - 1)
            if (low(v) == index(v)) {
              var w = -1
              while (w != v) {
                w = stack.remove(stack.length - 1)
                onStack(w) = false
                comp(w) = nComp
              }
              nComp += 1
            }
            if (frameV.nonEmpty) {
              val p = frameV(frameV.length - 1)
              if (low(p) > low(v)) low(p) = low(v)
            }
          }
        }
      }
      root += 1
    }
    val minMember = new Array[Any](nComp)
    i = 0
    while (i < n) {
      val c = comp(i)
      val v = nodes(i)
      if (minMember(c) == null || LocalFinish.compare(v, minMember(c)) < 0)
        minMember(c) = v
      i += 1
    }
    (0 until n).iterator.map(j => (nodes(j), minMember(comp(j))))
  }
}
