package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting via the degree-ordered node-iterator
  * (Schank/Wagner 2005; the MapReduce formulation is Suri/Vassilvitskii
  * WWW'11 "Counting triangles and the curse of the last reducer").
  *
  * Orient every undirected edge from its lower endpoint to its higher
  * endpoint under the total order (degree, id). Each triangle then has
  * exactly ONE node with two out-edges, so
  *   wedges  = oriented ⋈ oriented on src (v ≺ w)
  *   closed  = wedges ⋈ oriented on (v, w)
  * counts each triangle exactly once. The orientation is the scale
  * lever: out-degree under the degree order is O(√m) even on power-law
  * graphs, so the wedge fan-out is bounded by √m per node instead of
  * by the max degree — the "last reducer" (a celebrity node with 10⁸
  * neighbors) never materializes its Θ(deg²) wedges.
  *
  * Shuffle inventory at 100 TB: degrees (one groupBy on node), two
  * node-keyed joins to attach degrees (dim-sized right side — AQE
  * picks broadcast when it fits, shuffle-hash when a 10⁹-node degree
  * table doesn't), the wedge self-join keyed on src, and the closing
  * join keyed on (v, w). All equi-joins on bounded-fan-out keys; no
  * cartesian anywhere, no global window.
  */
object Triangles {

  /** Row cap for the shuffled-hash hints on the wedge/closing joins
    * (r17 advisor: unlike sort-merge, a shuffled-hash build side
    * degrades by OOM, not spill, so the hint must be gated like the
    * broadcast caps are). The build side is the oriented edge list;
    * per-task build memory is |oriented| / shuffle-partitions rows
    * (~50 B each), so the default 100M cap keeps a 32-partition local
    * build ≤ ~160 MB/task and a production deployment sizes
    * spark.sql.shuffle.partitions with the same ratio in mind. Above
    * the cap the joins fall back to sort-merge, which spills. */
  private def shjRowCap: Long =
    sys.props.get("graft.tri.shjRows")
      .orElse(sys.env.get("GRAFT_TRI_SHJ_ROWS"))
      .map(_.toLong).getOrElse(100000000L)

  /** Per-node triangle participation counts, top `k` by (count desc,
    * node asc). `edges` must be an undirected edge list with columns
    * (a, b); duplicates and self-loops are removed here. */
  def nodeTriangles(edges: DataFrame, k: Int): DataFrame =
    trianglesAndDeg(edges, k)._1

  /** [[nodeTriangles]] plus the degree table it already derives — so
    * [[localClustering]] reuses the persisted canonical edge list
    * instead of re-running the (possibly expensive) edge derivation a
    * second time for degrees. */
  private def trianglesAndDeg(edges: DataFrame, k: Int): (DataFrame, DataFrame) = {
    // persisted scratch: the canonical edge list feeds the degree
    // union (2 consumers) AND both degree-attach joins — without the
    // persist the (possibly expensive) edge derivation recomputes 4×
    // inside the one oriented-edges job
    val e = graft.util.Scratch.track(edges.where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    // src = the endpoint earlier in the (deg, id) total order.
    // Persisted scratch: `oriented` feeds THREE consumers (both wedge
    // arms and the closing probe) — without the persist each branch
    // re-derives the whole edge list (scan + degree agg + two joins)
    // from scratch, tripling the dominant cost at scale. Drained by
    // the harness via the Scratch contract.
    val oriented = graft.util.Scratch.track(withDeg.select(
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("da").as("ds"),
               col("b").as("dst"), col("db").as("dd")))
        .otherwise(
          struct(col("b").as("src"), col("db").as("ds"),
                 col("a").as("dst"), col("da").as("dd"))).as("e"))
      .select(col("e.src"), col("e.ds"), col("e.dst"), col("e.dd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    // gate the shuffled-hash hints on the EXACT oriented-edge count
    // (r17 advisor): the count is one cached-scan aggregate over the
    // already-persisted frame, the same price the broadcast caps pay
    val nOriented = oriented.count()
    def shj(df: DataFrame): DataFrame =
      if (nOriented <= shjRowCap) df.hint("shuffle_hash") else df
    // wedges u→v, u→w with v ≺ w (same total order keeps each
    // unordered pair once)
    val o1 = oriented.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val o2 = oriented.select(col("src"), col("dst").as("w"), col("dd").as("dw"))
    val wedges = o1.join(shj(o2), Seq("src"))
      .where(col("dv") < col("dw") ||
             (col("dv") === col("dw") && col("v") < col("w")))
    // close the wedge: oriented edge v→w must exist (orientation of
    // {v,w} is v→w exactly because v ≺ w)
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tris = wedges.join(shj(closing), Seq("v", "w"))
      .select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
    // per-node participation: each triangle credits its 3 corners
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    // global top-k on (tri desc, node) = TakeOrderedAndProject
    val topk = perNode.orderBy(col("tri").desc, col("node")).limit(k)
      .select(col("node"), col("tri"))
    (topk, deg.select(col("v").as("node"),
      col("deg").cast(org.apache.spark.sql.types.LongType).as("deg")))
  }

  /** Local clustering coefficient for the top-`k` triangle nodes:
    * lcc = 2·tri / (deg·(deg−1)), i.e. what fraction of a node's
    * neighbor pairs are themselves connected — the node-level mixing
    * signal next to the global assortativity. Emitted in integer
    * micro-units from exact integer (tri, deg): ONE rounded double
    * division over identical values in both engines. Top-k nodes come
    * from [[nodeTriangles]] (they all have deg ≥ 2 by construction —
    * a triangle corner has two neighbors); the degree re-aggregate is
    * one more groupBy over the same canonical edge list, joined to a
    * k-row frame (AQE broadcasts the tiny side). */
  def localClustering(edges: DataFrame, k: Int): DataFrame = {
    val (topk, deg) = trianglesAndDeg(edges, k)
    topk.join(deg, Seq("node"))
      .select(col("node"), col("tri"), col("deg"),
        round(col("tri") * lit(2000000.0) / (col("deg") * (col("deg") - 1)), 0)
          .cast(org.apache.spark.sql.types.LongType).as("lcc_micro"))
  }

  /** Market-basket lift: for item pairs co-occurring in ≥ `minSupport`
    * baskets, lift = P(ab)/(P(a)P(b)) = n_ab·N/(n_a·n_b) — the
    * affinity statistic of recommendation co-occurrence mining.
    * Computed in micro-units with ONE rounded double division
    * (integer inputs → both engines divide identical values), ties →
    * (a, b) asc.
    *
    * Shape: ONE exchange (groupBy basket) builds per-basket sorted
    * item sets; dedup happens inside `collect_set`, the basket count,
    * per-item basket counts, and the PAIR ENUMERATION (an in-row
    * array comprehension — sorted set, so a<b by construction) all
    * ride that single materialized frame. The previous plan shuffled
    * the distinct (basket, item) set once for the dedup and twice
    * more into a self-join — three exchanges of the big side where
    * one suffices. Pair fan-out is |basket|²/2, bounded for
    * market-basket-shaped inputs (TPC-H orders average ~4 lines); a
    * pathological giant basket calls for a per-basket item cap, not a
    * different plan. */
  def basketLift(df: DataFrame, basket: String, item: String,
                 minSupport: Long, k: Int,
                 maxBasketItems: Int = Int.MaxValue): DataFrame = {
    val baskets0 = graft.util.Scratch.track(
      df.select(col(basket).as("bk"), col(item).as("it"))
        .groupBy(col("bk")).agg(array_sort(collect_set(col("it"))).as("items"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Pair fan-out is |basket|²/2 IN ONE ROW — a pathological giant
    // basket (a crawler session touching every item) is a per-row
    // memory bomb, not a shuffle-skew problem, so the guard REFUSES
    // loudly rather than silently capping: at 100 TB set
    // maxBasketItems and pre-filter deliberately.
    if (maxBasketItems != Int.MaxValue) {
      val over = baskets0.where(size(col("items")) > maxBasketItems).count()
      require(over == 0,
        s"$over baskets exceed maxBasketItems=$maxBasketItems — their in-row " +
          "pair fan-out is quadratic; pre-filter or raise the cap deliberately")
    }
    val baskets = baskets0
    val n = baskets.agg(count(lit(1)).as("n"))
    val items = baskets.select(explode(col("items")).as("it"))
      .groupBy(col("it")).agg(count(lit(1)).as("ni"))
    val pairCol = flatten(transform(col("items"), (x, i) =>
      transform(slice(col("items"), i + 2, size(col("items")) - i - 1),
        y => struct(x.as("a"), y.as("b")))))
    val pairs = baskets.select(explode(pairCol).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("nab"))
      .where(col("nab") >= minSupport)
    pairs
      .join(items.select(col("it").as("a"), col("ni").as("na")), Seq("a"))
      .join(items.select(col("it").as("b"), col("ni").as("nb")), Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("nab"),
        round((col("nab") * col("n") * lit(1000000L)).cast("double") /
          (col("na") * col("nb")), 0).cast("long").as("lift_u"))
      .orderBy(col("lift_u").desc, col("a"), col("b")).limit(k)
  }

  /** Co-occurrence edge list: nodes of `key` that share at least one
    * `group` value. Per-group fan-out is the group size — bounded for
    * market-basket-shaped inputs (TPC-H orders average ~4 lines), so
    * the self-join is narrow per key and never quadratic globally. */
  def coOccurrenceEdges(df: DataFrame, group: String, key: String): DataFrame = {
    val l = df.select(col(group).as("g"), col(key).as("a")).distinct()
    val r = df.select(col(group).as("g"), col(key).as("b")).distinct()
    l.join(r, Seq("g")).where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    * correlation between the degrees at either end of each undirected
    * edge — positive means hubs attach to hubs, negative means
    * hub-to-leaf (most social graphs are positive, most technological
    * graphs negative). One number summarizing mixing structure.
    *
    * Engine-independence: degrees are integers, so the symmetrized
    * moment sums S1=Σx, S2=Σx², Sxy=Σxy are EXACT on both engines
    * (decimal here, HUGEINT in the oracle); the only float ops are the
    * final casts of two exact integers and one division — the same
    * IEEE sequence either side, so round(…,6) agrees bit-for-bit.
    *
    * Scale shapes: one degree aggregate, two node-keyed joins to
    * attach endpoint degrees (AQE broadcasts when the degree table
    * fits), one 1-row moment aggregate. Work ∝ edges; no vertex-pair
    * enumeration anywhere. */
  def assortativity(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val deg = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).cast(LongType).as("deg"))
    val pairs = edges
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("da"), col("db"))
    // symmetrize so each undirected edge contributes both (x,y) and
    // (y,x) — the standard formulation (S1x = S1y by construction)
    val sym = pairs.unionAll(pairs.select(col("db").as("da"), col("da").as("db")))
    // deg < 10^18 assumed (comfortably true: deg ≤ |V|); the decimal(18)
    // casts keep every product inside decimal(38,0) exact arithmetic
    def d18(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 0))
    val m = sym.agg(
      count(lit(1)).cast(LongType).as("n"),
      sum(d18(col("da"))).as("s1"),
      sum(d18(col("da")) * d18(col("db"))).as("sxy"),
      sum(d18(col("da")) * d18(col("da"))).as("s2"))
    val num = d18(col("n")) * col("sxy") - col("s1") * col("s1")
    val den = d18(col("n")) * col("s2") - col("s1") * col("s1")
    m.select(col("n").as("n_ends"),
      when(den === 0, lit(0.0)).otherwise(
        round(num.cast(DoubleType) / den.cast(DoubleType), 6))
        .as("assortativity"))
  }

  /** Common-neighbor link prediction: for node pairs sharing ≥
    * `minCommon` neighbors, the Jaccard-style score
    * common/(deg(a)+deg(b)−common) in rounded micro-units, top `k` by
    * (score desc, a, b).
    *
    * The wedge join centered at a node n fans out deg(n)² — on a
    * power-law graph the hubs ARE the blow-up, and unlike triangle
    * counting no orientation trick saves the full count (every wedge
    * is a unit of evidence here). The standard scale mitigation is
    * applied INSIDE the definition: wedge centers with deg >
    * `maxCenterDeg` are excluded from the common count (hub
    * co-membership carries ~no signal in link prediction), while the
    * denominator keeps FULL degrees. Deterministic, and the oracle
    * replays the same capped definition. Shapes: degree aggregate,
    * one center-keyed self-join bounded by the cap, pair aggregate,
    * TakeOrdered head. */
  def commonNeighbors(edges: DataFrame, minCommon: Long, maxCenterDeg: Long,
                      k: Int): DataFrame = {
    val e = edges.where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val adj = e.select(col("a").as("v"), col("b").as("n"))
      .union(e.select(col("b").as("v"), col("a").as("n")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val centers = adj.join(deg.select(col("v").as("n"), col("deg").as("dn")), "n")
      .where(col("dn") <= maxCenterDeg)
      .select(col("v"), col("n"))
    val pairs = centers.select(col("n"), col("v").as("pa"))
      .join(centers.select(col("n"), col("v").as("pb")), Seq("n"))
      .where(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("common"))
      .where(col("common") >= minCommon)
    pairs
      .join(deg.select(col("v").as("pa"), col("deg").as("da")), Seq("pa"))
      .join(deg.select(col("v").as("pb"), col("deg").as("db")), Seq("pb"))
      .select(col("pa").as("a"), col("pb").as("b"), col("common"),
        round((col("common") * lit(1000000L)).cast("double") /
          (col("da") + col("db") - col("common")), 0).cast("long").as("jacc_u"))
      .orderBy(col("jacc_u").desc, col("a"), col("b")).limit(k)
  }

  /** Resource-allocation link-prediction index (Zhou, Lü & Zhang,
    * Eur. Phys. J. B 2009): RA(a,b) = Σ_{w ∈ N(a)∩N(b)} 1/deg(w) —
    * common-neighbor evidence weighted DOWN by the neighbor's degree
    * (a shared rare neighbor says far more than a shared hub; RA beats
    * raw common-neighbor counts on most link-prediction benchmarks).
    * EXACT integer form: each center w contributes ⌊10⁶/deg(w)⌋
    * micro-units, so pair scores are order-independent integer sums
    * that replay bit-for-bit in SQL — unlike Adamic-Adar's 1/ln deg,
    * whose ln() can differ in the last ulp between engines.
    *
    * Same scale mitigations as [[commonNeighbors]]: hub centers above
    * `maxCenterDeg` are excluded from evidence (the power-law wedge
    * bound — work ∝ Σ_{deg(w) ≤ cap} deg(w)², never all pairs), and
    * the result is a TakeOrdered top-k, not a global sort. */
  def resourceAllocation(edges: DataFrame, minCommon: Long,
                         maxCenterDeg: Long, k: Int): DataFrame = {
    val e = edges.where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val adj = e.select(col("a").as("v"), col("b").as("n"))
      .union(e.select(col("b").as("v"), col("a").as("n")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // each qualifying center carries its own micro-unit weight into
    // the wedge join, so the pair aggregate is one integer sum
    val centers = adj
      .join(deg.select(col("v").as("n"), col("deg").as("dn")), "n")
      .where(col("dn") <= maxCenterDeg)
      .select(col("v"), col("n"), expr("1000000L div dn").as("w"))
    centers.select(col("n"), col("v").as("pa"), col("w"))
      .join(centers.select(col("n"), col("v").as("pb")), Seq("n"))
      .where(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("common"), sum(col("w")).as("ra_micro"))
      .where(col("common") >= minCommon)
      .select(col("pa").as("a"), col("pb").as("b"), col("common"),
        col("ra_micro"))
      .orderBy(col("ra_micro").desc, col("a"), col("b")).limit(k)
  }
}
