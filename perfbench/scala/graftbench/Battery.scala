package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The battery workload: a fixed list of `SparkEntry.queries` entries
  * called by one closed-loop caller, each timed from the call to a fully
  * materialized result (a `noop` sink write computes every column, where
  * `count()` lets Catalyst prune them). The seed sets only the call
  * order. */
object Battery {

  /** Graph-database side (EAV scans and WOQL compile, a path closure,
    * an iterative graph operator), then LLM-data, streaming and source
    * operators over the raw parquet, which bypass the EAV store and the
    * compiler. */
  val entries: Seq[String] = Seq(
    "woql_flagship", "woql_not", "woql_path_witness_times", "graph_wcc",
    "text_bpe_train", "text_bpe_apply", "stream_window_counts", "ext_json")

  /** Timed passes per run: whole passes of about `passSeconds` each on
    * a 4-core machine, so the work done does not depend on speed. */
  val passSeconds = 5.0
  def passes(seconds: Double): Int = math.max(1, math.round(seconds / passSeconds).toInt)

  /** The module an entry's time is attributed to, by name prefix. */
  def module(entry: String): String = entry.takeWhile(_ != '_') match {
    case "woql" => "core"
    case "ext" if entry.startsWith("ext_graphql_") => "core"
    case "graph" | "rel" => "operators"
    case "llm" | "dedup" | "sim" | "text" | "emb" | "mm" | "sketch" => "llm"
    case "stream" => "streaming"
    case "ext" => "sources"
    case other => other
  }

  /** Seeded call order. A `*_train` entry memoizes the artifact its
    * `*_apply` twin reads, so the pair keeps train first: apply then
    * measures encoding and train measures training. */
  def order(names: Seq[String], seed: Long): Seq[String] = {
    val a = new scala.util.Random(seed).shuffle(names).toArray
    for (i <- a.indices if a(i).endsWith("_apply")) {
      val j = a.indexOf(a(i).stripSuffix("_apply") + "_train")
      if (j > i) { val t = a(i); a(i) = a(j); a(j) = t }
    }
    a.toSeq
  }

  /** Drop the in-memory memos (trained codebooks, tokenizer tables, path
    * step relations), so every pass measures the work, not a cache hit. */
  def clearMemos(): Unit = {
    graft.llm.Clustering.clearArtifacts()
    graft.core.Paths.clearRelCache()
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, run: Main.Run, jvm: JvmCounters): Map[String, Any] = {
    val (sfDir, ctx1) = run.coldCtx(spark, 1)
    run.extra("eav_bytes") = Main.dirBytes(new java.io.File(run.eavRoot))
    val order = Battery.order(entries, run.seed)

    def call(name: String, pass: String, fingerprint: Boolean): Option[Fingerprint.Print] = {
      run.attempted += 1
      val mod = module(name)
      try {
        val df = run.span("build", name, mod, pass) {
          graft.SparkEntry.queries(name)(spark, sfDir)
        }
        run.span("action", name, mod, pass) { materialize(df) }
        if (fingerprint) Some(Fingerprint.of(df)) else None
      } catch {
        case e: Throwable =>
          run.fail(s"$name ($pass) failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      } finally {
        val _ = graft.util.Scratch.drain()
        run.leakedRdds += Leaks.settle(spark, name)
        for (_ <- 1 to HostSpeed.samplesPerOp) run.speed += pass -> HostSpeed.sample()
      }
    }

    // set-up: a check pass, which fingerprints every result and builds
    // the lazy on-disk artifacts
    val prints = scala.collection.mutable.LinkedHashMap[String, Any]()
    val warm0 = Clock.nowNs
    clearMemos()
    order.foreach { n =>
      call(n, "warm", fingerprint = true).foreach { p =>
        prints(n) = Map("rows" -> p.rows, "hash" -> p.hash.toString, "schema" -> p.schema)
        run.golden.check(n, p).foreach(run.fail)
      }
    }
    val warmS = (Clock.nowNs - warm0) / 1e9

    jvm.begin()
    for (_ <- 1 to passes(run.seconds)) {
      clearMemos()
      order.foreach(call(_, "timed", fingerprint = false))
    }
    jvm.end()
    val written = Main.dirBytes(new java.io.File(run.eavRoot)) +
      Main.dirBytes(new java.io.File(run.dir, "warehouse"))

    val trace = if (!run.traced) Map.empty[String, Any] else {
      val t = new Trace(spark, run.eavRoot)
      t.start()
      for (p <- Seq("trace1", "trace2")) {
        clearMemos()
        order.foreach(call(_, p, fingerprint = false))
      }
      t.stop()
      Map("trace" -> t.toJson)
    }

    // more cold encodes into fresh paths, for a median set-up time
    val ctxS = Seq(ctx1, run.coldCtx(spark, 2)._2, run.coldCtx(spark, 3)._2)
    Map("order" -> order, "ctx_s" -> ctxS,
      "warm_s" -> warmS, "written_bytes" -> written, "fingerprints" -> prints) ++ trace
  }
}

/** Bench's undeclared-RDD leak assertion, between operations. */
object Leaks {
  /** After a drain, wait up to 1 s for the non-blocking unpersists to
    * land; whatever cached RDD is still held and not a declared cache is
    * a leak. Leaks are reported, unpersisted (so they do not tax later
    * operations) and counted. */
  def settle(spark: SparkSession, op: String): Int = {
    def undeclared = spark.sparkContext.getRDDStorageInfo
      .filterNot(i => graft.util.Scratch.isCacheRdd(i.id))
    var leaked = undeclared
    var waits = 0
    while (leaked.nonEmpty && waits < 10) { Thread.sleep(100); waits += 1; leaked = undeclared }
    if (leaked.nonEmpty) System.err.println(s"[bench][leak] $op left " +
      leaked.map(i => s"rdd${i.id}(${i.name})").mkString(", "))
    leaked.foreach(i => spark.sparkContext.getPersistentRDDs.get(i.id)
      .foreach(_.unpersist(false)))
    leaked.length
  }
}
