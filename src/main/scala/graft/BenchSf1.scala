package graft

/** Scale-rehearsal gate artifact: run the heavyweight battery entries
  * at sf1 (10× sf0.1, built by [[ScaleUp]]), min-of-N, and write the
  * results as a DIFFABLE markdown table to `BENCH_SF1.md` — so an sf1
  * scale regression surfaces in a file diff between rounds instead of
  * prose in BASELINE.md (r14 verdict #7).
  *
  * `runMain graft.BenchSf1 [sf1Dir] [reps] [outFile]` — defaults
  * `target/sf1`, 3 reps, `BENCH_SF1.md`. The heavyweight list is the
  * 15 most expensive battery entries per BENCH_r14 (eav_encode
  * excluded: ingest diagnostic, not an operator).
  */
object BenchSf1 {

  /** Per-round additions that must have at-scale rows regardless of
    * their gate time (the r15 verdict's gap: BENCH_SF1 hardcoded an
    * r14-era list, so the newest heavyweights had no scale record). */
  val alwaysInclude: Seq[String] = Seq(
    "graph_scc", "ext_turtle_dist", "mm_decode_avi",
    "text_bytebpe_train", "text_bytebpe_apply", "sim_ivf_upsert",
    "sim_ivf_refit", "graph_sssp_weighted", "graph_katz",
    // r16 late tranche (r16 verdict #2: these had only prose sf1 rows)
    "graph_walks", "rel_weighted_median", "llm_coreset_kcenter",
    "llm_url_canon", "graph_reciprocity", "mm_decode_gif_anim",
    // r17 additions — sf1 rows land in the SAME round they ship
    "graph_hits", "graph_dag_longest", "graph_resource_alloc",
    "mm_decode_tiff", "dedup_containment_exact", "stream_url_canon",
    "graph_ktruss", "llm_calibration", "ext_graphql_agg_links",
    "llm_pipeline_v5", "sim_range_lsh", "stream_calibration")

  /** Heavyweight list DERIVED from the latest driver battery: top-N
    * entries by gate time in the newest `BENCH_r*.json`, plus
    * [[alwaysInclude]]. eav_encode stays excluded (ingest diagnostic,
    * not an operator). Every name must resolve in
    * [[SparkEntry.queries]] — a typo shrinks the scale gate silently
    * otherwise. */
  def heavyweights: Seq[String] = {
    val benchFiles = Option(new java.io.File(".").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
    require(benchFiles.nonEmpty,
      "no BENCH_r*.json battery file found to derive the heavyweight list")
    val latest = benchFiles
      .maxBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
    // REAL JSON parse (r16 advisor: the substring-scrape broke on any
    // nested brace or reformatted tail). The driver battery file is a
    // JSON object wrapping the sbt log in a `tail` string; the metric
    // line is the LAST complete {"metric":...} object inside it (one
    // log line), or the file may carry it directly / under `parsed`.
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rootNode = om.readTree(latest)
    val metric: com.fasterxml.jackson.databind.JsonNode =
      if (rootNode.has("queries")) rootNode
      else if (rootNode.hasNonNull("parsed") &&
               rootNode.get("parsed").has("queries")) rootNode.get("parsed")
      else {
        require(rootNode.hasNonNull("tail"),
          s"${latest.getName}: no queries/parsed/tail field")
        val tail = rootNode.get("tail").asText()
        val i = tail.lastIndexOf("{\"metric\"")
        require(i >= 0, s"${latest.getName} tail has no metric line")
        val j = tail.indexOf('\n', i)
        om.readTree(if (j < 0) tail.substring(i) else tail.substring(i, j))
      }
    val qs = metric.get("queries")
    require(qs != null && qs.isObject,
      s"${latest.getName}: metric line has no queries object")
    import scala.jdk.CollectionConverters._
    val entries = qs.fields().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toSeq
    val top = entries.filterNot(_._1 == "eav_encode")
      .sortBy(-_._2).take(15).map(_._1)
    val all = (top ++ alwaysInclude).distinct
    val missing = all.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"heavyweight entries not in SparkEntry.queries: " +
        s"${missing.mkString(", ")} (from ${latest.getName})")
    System.err.println(s"[benchsf1] list derived from ${latest.getName}: " +
      all.mkString(", "))
    all
  }

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "target/sf1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val outFile = if (args.length > 2) args(2) else "BENCH_SF1.md"
    val spark = Graft.session()
    val _ = Graft.ctx(spark, sfDir) // warm encode (uncounted)

    val rows = heavyweights.map { name =>
      val fn = SparkEntry.queries(name) // asserted resolvable upstream
      // a failed rep is marked FAIL in the table — its wall time is
      // a failure latency, not a measurement (r15 advisor)
      val times = (1 to reps).map { _ =>
        val g0 = gcMs; val t0 = System.nanoTime()
        val ok = try { val _ = fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[benchsf1] $name failed: ${e.getMessage}")
          false }
        ((System.nanoTime() - t0) / 1e9, gcMs - g0, ok)
      }
      val _ = graft.util.Scratch.drain()
      // unlike the sf0.1 battery, sf1 step-relation caches are
      // edge-sized: left resident they GC-tax every later entry in
      // this single-JVM rehearsal (first run: graph_triangles 96 s
      // min / 20 s gc after the path family, vs 31 s in a dedicated
      // JVM) — drop them so each entry starts from a clean block
      // manager
      graft.core.Paths.clearRelCache()
      System.gc(); Thread.sleep(150); System.gc()
      val good = times.filter(_._3)
      val minCell =
        if (good.isEmpty) "FAIL" else f"${good.map(_._1).min}%.2f"
      val repCells = times
        .map(t => if (t._3) f"${t._1}%.2f" else "FAIL").mkString(" ")
      val line = f"| $name | $minCell | $repCells | " +
        f"${times.map(_._2).max} |"
      println(s"BENCHSF1 $line")
      line
    }
    val md = new StringBuilder
    md ++= "# BENCH_SF1 — heavyweight scale rehearsal (diffable gate artifact)\n\n"
    md ++= s"Data: `$sfDir` (10 key-offset copies of sf0.1 via `graft.ScaleUp`).\n"
    md ++= s"Protocol: warm JVM + warm EAV encode, $reps reps per entry, " +
      "min reported; Scratch drained + double-GC between entries.\n" +
      "Regenerate: `sbt \"runMain graft.BenchSf1\"`.\n\n"
    md ++= "| query | min (s) | reps (s) | max gc_ms/rep |\n|---|---|---|---|\n"
    rows.foreach(r => md ++= r + "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      md.toString.getBytes("UTF-8"))
    println(s"BENCHSF1 wrote $outFile (${rows.size} entries)")
    spark.stop()
  }
}
