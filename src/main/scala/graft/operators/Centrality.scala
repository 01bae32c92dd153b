package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Landmark closeness centrality — the Eppstein–Wang estimator with
  * FIXED, DETERMINISTIC landmarks (the k lexicographically least node
  * ids) instead of random ones, so the result is a pure function of
  * the graph and two engines replay it exactly. Random landmarks have
  * the better theoretical error bound; deterministic least-id ones
  * keep the oracle property every operator here carries, and the
  * estimator shape (closeness from a small landmark set, not all-pairs
  * BFS) is identical.
  *
  * closeness_micro(v) = round(1e6 · reached(v) / Σ_l dist(l, v)) over
  * the landmarks that reach v within `maxHops` (0 when every reaching
  * landmark is v itself — an isolated landmark has no finite
  * distance sum).
  *
  * Scale shape: the distance table is ≤ k·V rows (landmarks × nodes),
  * NEVER V² — and the BFS is SEMI-NAIVE: each round shuffles only the
  * newly-discovered frontier against edges plus one anti-join against
  * the seen-set, with an eager lineage cut per hop and early exit on
  * an exhausted frontier. All-pairs exact closeness is the refused
  * shape at 100 TB; k landmarks is the published scale path. */
object Centrality {

  def landmarkCloseness(edges: DataFrame, k: Int = 4,
                        maxHops: Int = 6): DataFrame =
    landmarkDistances(edges, k, maxHops).groupBy(col("node"))
      .agg(count(lit(1)).as("reached"), sum(col("dist")).as("sum_dist"))
      .select(col("node"), col("reached"), col("sum_dist").cast(LongType)
          .as("sum_dist"),
        when(col("sum_dist") > 0,
          round(lit(1000000.0) * col("reached").cast("double") /
            col("sum_dist").cast("double"), 0).cast(LongType))
          .otherwise(lit(0L)).as("closeness_micro"))

  /** Landmark HARMONIC centrality — same deterministic-landmark BFS,
    * the Σ 1/d aggregate instead of k/Σd (Boldi & Vigna's preferred
    * form: defined on disconnected graphs without the reached-count
    * correction). harmonic_micro(v) = Σ_l ⌊1e6 / dist(l,v)⌋ over
    * landmarks at finite distance ≥ 1 — EXACT integer division per
    * term, so both engines sum identical longs (no float anywhere). */
  def landmarkHarmonic(edges: DataFrame, k: Int = 4,
                       maxHops: Int = 6): DataFrame =
    landmarkDistances(edges, k, maxHops)
      .filter(col("dist") >= 1)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("reached"),
        sum(expr("CAST(1000000 AS BIGINT) div dist")).as("harmonic_micro"))

  /** The shared semi-naive landmark BFS: (l, node, dist) for every
    * node within `maxHops` of one of the k least-id landmarks. */
  private def landmarkDistances(edges: DataFrame, k: Int,
                                maxHops: Int): DataFrame = {
    require(k >= 1 && maxHops >= 1)
    val und = undirected(edges)
    val landmarks = und.select(col("src").as("node")).distinct()
      .orderBy(col("node")).limit(k)
    bfs(und, landmarks, maxHops)
  }

  /** Double-sweep diameter estimate (Magnien, Latapy & Habib 2009):
    * BFS from the deterministic least-id node, BFS again from its
    * farthest node (ties → least id) — the second eccentricity is the
    * classic diameter LOWER bound, 2·ecc(start) the matching upper
    * bound. Two frontier-sized BFS passes, never all-pairs; both
    * sweeps honor `maxHops` (on a larger-diameter graph the bound is
    * capped — raise maxHops, cost is per-hop not per-node). The two
    * intermediate collects are 1 row each. */
  def doubleSweepDiameter(edges: DataFrame, maxHops: Int = 6): DataFrame = {
    require(maxHops >= 1)
    val und = undirected(edges)
    val start = und.agg(min(col("src"))).collect().head.getString(0)
    require(start != null, "doubleSweepDiameter: empty edge set")
    val spark = edges.sparkSession
    import spark.implicits._
    val d1 = bfs(und, Seq(start).toDF("node"), maxHops)
    val farRow = d1.orderBy(col("dist").desc, col("node")).limit(1)
      .collect().head
    val (far, ecc1) = (farRow.getString(1), farRow.getLong(2))
    val d2 = bfs(und, Seq(far).toDF("node"), maxHops)
    d2.agg(max(col("dist")).cast(LongType).as("diam_lb"))
      .select(lit(start).as("start_node"), lit(far).as("far_node"),
        lit(ecc1).cast(LongType).as("ecc_start"), col("diam_lb"),
        lit(2L * ecc1).cast(LongType).as("diam_ub"))
  }

  /** Deduplicated undirected view, persisted for the BFS's repeated
    * per-hop joins. */
  private def undirected(edges: DataFrame): DataFrame = {
    val dir = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    graft.util.Scratch.track(
      dir.unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Multi-source BFS from `seeds` (one `node` column): (l, node,
    * dist) rows for every node within maxHops of a seed l — the
    * semi-naive [[graft.util.Fixpoint.walk]] keyed on (l, node). Each
    * hop joins ONLY the newly discovered frontier against the edges,
    * never the full distance table (the naive form re-joined O(k·V ⋈ E)
    * per hop); BFS level order makes first discovery the min distance,
    * so the anti-join against the seen set replaces a min-aggregate.
    * The walk exits on an empty frontier, so a graph of diameter below
    * maxHops stops paying for empty rounds. */
  private def bfs(und: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    graft.util.Fixpoint.walk(seeds.select(col("node").as("l"), col("node")),
        Seq("l", "node"), seedsSeen = true, dist = true, maxRounds = maxHops) {
      _.join(und, col("node") === col("src"))
        .select(col("l"), col("dst").as("node")).distinct()
    }
}
