package graft

/** Plan-inspection main: prints the formatted physical plan for selected
  * queries so pushdown / partition pruning / broadcast decisions can be
  * reviewed (`runMain graft.Explain <sfDir> <query...>`). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("woql_flagship", "woql_triple", "rel_q1_agg",
        "rel_broadcast_join", "woql_path_plus_alt", "sim_topk_lsh",
        "rel_interval_overlap", "rel_sessionize", "emb_kmeans",
        "sim_topk_ivf_trained", "graph_pagerank")
    val spark = Graft.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      if (n == "__boundnum") {
        // ad-hoc: bound numeric object pattern — the filter must reach
        // the scan as a stats-prunable disjunction (PushedFilters)
        import graft.core._
        implicit val c: Ctx = Graft.ctx(spark, sfDir)
        Compiler.run(TriplePat(V("P"), Node("tpch:p_size"), Lng(25)))
          .explain("formatted")
      } else SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
