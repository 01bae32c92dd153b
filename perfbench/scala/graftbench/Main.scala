package graftbench

import org.apache.spark.sql.SparkSession
import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM:
  * `graftbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <runDir> <goldenFile>`.
  *
  * Everything the engine writes goes under `runDir` (EAV cache, layer
  * store, warehouse, local and checkpoint dirs, temp files); the raw
  * record of the run lands in `runDir/raw.json` for the report. */
object Main {
  val cores: Int = Runtime.getRuntime.availableProcessors

  /** The one session config every workload runs under; printed with the
    * result. The AQE settings are the battery's: size-based coalescing
    * so dim-sized shuffles do not schedule `cores` near-empty tasks. */
  def sessionConf(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.cleaner.periodicGC.interval" -> "15s",
    "spark.ui.enabled" -> "false",
    "spark.ui.showConsoleProgress" -> "false")

  /** Per-run scratch locations: nothing a run writes outlives its dir. */
  def scratchConf(root: String): Seq[(String, String)] = Seq(
    "spark.local.dir" -> s"$root/local",
    "spark.sql.warehouse.dir" -> s"$root/warehouse")

  def session(cores: Int, scratch: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().appName("graftbench")
    (sessionConf(cores) ++ scratch).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    scratch.find(_._1 == "spark.local.dir").foreach { case (_, d) =>
      spark.sparkContext.setCheckpointDir(new File(d).getParent + "/checkpoint")
    }
    spark
  }

  /** Everything one run shares between the two workloads' code. */
  final class Run(val seed: Long, val seconds: Double, val traced: Boolean,
                  val dataDir: String, val dir: String, val golden: Golden) {
    val eavRoot: String = sys.env("GRAFT_EAV_CACHE")
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    val checks = scala.collection.mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    var leakedRdds = 0L
    /** Host-speed kernel times in ns, with the pass they followed. */
    val speed = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val extra = scala.collection.mutable.LinkedHashMap[String, Any]()

    /** Time `f` as a span; failures propagate after the span is kept. */
    def span[T](kind: String, name: String, cls: String, pass: String)(f: => T): T = {
      val c0 = HostCpu.now
      val t0 = Clock.nowNs
      try f finally { val t1 = Clock.nowNs; spans += Span(kind, name, cls, pass, t0, t1, c0, HostCpu.now) }
    }

    def fail(msg: String): Unit = { failed += 1; checks += msg; System.err.println(s"[bench] $msg") }

    /** Time a cold `Graft.ctx` (EAV encode + subclass closure) over a
      * fresh copy `i` of the input tables: a new path is a new database
      * to `Graft.ctx`, so each set-up repetition encodes cold. Returns
      * the copy's path and the seconds. */
    def coldCtx(spark: SparkSession, i: Int): (String, Double) = {
      val d = new File(dir, s"input$i")
      d.mkdirs()
      new File(dataDir).listFiles().filter(_.getName.endsWith(".parquet")).foreach(f =>
        java.nio.file.Files.copy(f.toPath, new File(d, f.getName).toPath))
      span("ctx", "ctx", "storage", "setup") { graft.Graft.ctx(spark, d.getPath) }
      (d.getPath, spans.last.seconds)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, runDir, goldenFile) = args
    val run = new Run(seed.toLong, seconds.toDouble, trace == "1", dataDir, runDir,
      Golden.load(goldenFile))
    val spark = session(cores, scratchConf(runDir))
    // JVM start to a usable session: class loading and context start-up
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    // the stream-state width the battery's streaming entries are tuned for
    sys.props("graft.stream.shuffle") = "8"
    val jvm = new JvmCounters
    val body = try {
      if (workload == "serving") Serving.run(spark, run, jvm)
      else Battery.run(spark, run, jvm)
    } finally spark.stop()
    val raw = body ++ Map(
      "workload" -> workload, "seed" -> run.seed, "cores" -> cores,
      "session_conf" -> sessionConf(cores).toMap,
      "session_s" -> sessionS,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "checks" -> run.checks.toList, "leak_rdds" -> run.leakedRdds,
      "speed" -> run.speed.map { case (p, ns) => Map("pass" -> p, "ns" -> ns) }.toList,
      "spans" -> run.spans.map(_.toJson).toList,
      "input_bytes" -> dirBytes(new File(dataDir), _.getName.endsWith(".parquet")),
      "jvm" -> jvm.report) ++ run.extra
    java.nio.file.Files.writeString(new File(runDir, "raw.json").toPath, Json(raw))
  }

  /** Bytes of the files under `f` that satisfy `keep`. */
  def dirBytes(f: File, keep: File => Boolean = _ => true): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes(_, keep)).sum
    else if (f.isFile && keep(f)) f.length else 0L
}

/** GC, JIT and heap-pool counters over the timed phase. */
final class JvmCounters {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.isValid).toSeq
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private def jitMs = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  private var gc0, jit0, gc1, jit1 = 0L
  private var peakMb = 0.0

  def begin(): Unit = { heapPools.foreach(_.resetPeakUsage()); gc0 = gcMs; jit0 = jitMs }
  def end(): Unit = {
    gc1 = gcMs; jit1 = jitMs
    peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
  def report: Map[String, Any] = Map("gc_s" -> (gc1 - gc0) / 1000.0,
    "jit_s" -> (jit1 - jit0) / 1000.0, "peak_heap_mb" -> peakMb)
}

/** Golden fingerprints recorded from the seed commit, one per entry or
  * request template: `{"name": {"rows": n, "hash": h, "schema": s,
  * "stable": b}}`. An entry whose hash differed between two recording
  * runs is `stable: false` and is checked on rows and schema only. */
final case class Golden(entries: Map[String, Golden.Entry]) {
  /** None when `p` matches, else the reason it does not. */
  def check(name: String, p: Fingerprint.Print): Option[String] =
    entries.get(name) match {
      case None => Some(s"$name: no golden fingerprint")
      case Some(g) =>
        if (g.rows != p.rows) Some(s"$name: ${p.rows} rows, golden ${g.rows}")
        else if (g.schema != p.schema) Some(s"$name: schema ${p.schema}, golden ${g.schema}")
        else if (g.stable && g.hash != p.hash) Some(s"$name: content hash differs from golden")
        else None
    }
}

object Golden {
  final case class Entry(rows: Long, hash: Long, schema: String, stable: Boolean)

  def load(path: String): Golden = {
    import org.json4s._
    val f = new File(path)
    if (!f.exists()) Golden(Map.empty)
    else {
      val JObject(fields) = org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")): @unchecked
      Golden(fields.map { case (k, v) =>
        def num(n: String) = (v \ n) match {
          case JInt(i) => i.toLong
          case JString(s) => s.toLong
          case other => sys.error(s"golden $k.$n: $other")
        }
        val JString(schema) = (v \ "schema"): @unchecked
        val JBool(stable) = (v \ "stable"): @unchecked
        k -> Entry(num("rows"), num("hash"), schema, stable)
      }.toMap)
    }
  }
}

/** Minimal JSON rendering for the raw record: maps, sequences, strings,
  * numbers, booleans and None/null. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
