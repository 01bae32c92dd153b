package graft.operators

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GraphX/Pregel transitive closure — an independent reference for
  * [[graft.core.Paths.transitiveClosure]]'s semi-naive DataFrame loop
  * (SURVEY §2.7; reference path closure: core/query/path.pl), and the
  * measured A/B counterpart the engine's choice was made against.
  *
  * Formulation: vertex state = the set of ancestor ids known to reach
  * the vertex; every superstep forwards newly-learned ancestors along
  * out-edges; convergence in graph-depth supersteps. The node-id
  * mapping is built with joins (zipWithUniqueId — no driver-side
  * collect), so the whole pipeline stays distributed.
  *
  * Trade-off vs the DataFrame loop (why the engine defaults to
  * semi-naive): Pregel keeps per-vertex ancestor SETS in executor
  * memory — on high-in-degree graphs the hub vertices hold O(|V|)
  * sets, where the DataFrame loop spills pair rows to shuffle disk.
  * See BASELINE.md "unbounded closure A/B" for the measured numbers. */
object PregelClosure {

  /** All-pairs reachability (1+ hops) over `(src, dst)` string edges. */
  def closurePairs(spark: SparkSession, e: DataFrame): DataFrame = {
    import spark.implicits._
    val idDf = e.select(col("src").as("name"))
      .unionByName(e.select(col("dst").as("name"))).distinct()
      .rdd.map(_.getString(0)).zipWithUniqueId().toDF("name", "id")
      .cache()
    graft.util.Scratch.track(idDf)
    val eIds = e
      .join(idDf.toDF("src", "sid"), "src")
      .join(idDf.toDF("dst", "did"), "dst")
      .select(col("sid").as[Long], col("did").as[Long])
    val g = Graph.fromEdges(eIds.rdd.map { case (s, d) => Edge(s, d, ()) },
      Set.empty[VertexId])
    val res = g.pregel(Set.empty[VertexId])(
      (_, attr, msg) => attr ++ msg,
      t => {
        val news = (t.srcAttr + t.srcId) -- t.dstAttr
        if (news.nonEmpty) Iterator((t.dstId, news)) else Iterator.empty
      },
      _ ++ _)
    res.vertices.flatMap { case (id, anc) => anc.iterator.map(a => (a, id)) }
      .toDF("sid", "did")
      .join(idDf.toDF("asrc", "sid"), "sid")
      .join(idDf.toDF("adst", "did"), "did")
      .select(col("asrc").as("src"), col("adst").as("dst"))
  }
}
